package org.apache.spark.sql

import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}

/** Rebuilds a DataFrame with every file-based relation's `FileIndex`
  * replaced, so the tracer can wrap `listFiles` of the reads graft plans.
  * Lives in org.apache.spark.sql only for access to `Dataset.ofRows`.
  */
object BenchPlans {
  def mapFileIndex(df: DataFrame)(f: FileIndex => FileIndex): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val plan = ds.queryExecution.analyzed.transform {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        val r = l.relation.asInstanceOf[HadoopFsRelation]
        l.copy(relation = r.copy(location = f(r.location))(r.sparkSession))
    }
    classic.Dataset.ofRows(ds.sparkSession, plan)
  }
}
