package graft.formats.delta

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.util.{HadoopConfs, Jsons, PathUtils}

/** Batch DataFrame writes into a graft-managed Delta table — the engine
  * behind `df.write.format("graft").save(path)`: append or overwrite,
  * hive-partitioned or flat, table created on first write. CHECK
  * constraints and NOT NULL invariants are enforced before anything is
  * committed, adds carry real column stats from a distributed footer
  * scan, commit lines stream in bounded batches, and the commit CAS-es
  * on the observed head version — the same write discipline as every
  * other graft Delta writer.
  */
object DeltaWrite {

  case class WriteResult(added: Long, removed: Long, version: Long)

  def write(spark: SparkSession, tablePath: String, df: DataFrame,
      overwrite: Boolean, partitionCols: Seq[String] = Nil): WriteResult = {
    import df.sparkSession.implicits._
    val conf = HadoopConfs.session(spark)
    val versions = DeltaLog.listVersions(tablePath, conf)
    val head = versions.lastOption
    val tp = PathUtils.canonical(tablePath)
    val schema = df.schema

    val st = DeltaSnapshot.state(spark, tablePath, versions)
    DeltaSnapshot.requireWritable(tablePath, st)
    val existingMeta = st.metaData
    val parts = existingMeta match {
      case Some(m) =>
        require(sameSchema(m.schema, schema),
          s"written schema does not match the table's:\n  write: " +
            s"${schema.simpleString}\n  table: ${m.schema.simpleString}")
        require(partitionCols.isEmpty ||
            partitionCols == m.partitionColumns,
          s"partitionBy ${partitionCols.mkString(",")} does not match " +
            s"the table's (${m.partitionColumns.mkString(",")})")
        m.partitionColumns
      case None =>
        partitionCols.foreach(c => require(schema.fieldNames.contains(c),
          s"partition column $c is not in the written schema"))
        partitionCols
    }
    existingMeta.foreach(DeltaConstraints.enforce(df, _, "WRITE"))
    // overwrite removes every prior file (dataChange=true) — exactly the
    // row removal delta.appendOnly forbids; same obligation DeltaDeletes
    // enforces for deleteWhere/updateWhere/mergeInto
    if (overwrite) existingMeta.foreach { m =>
      require(!m.configuration.get("delta.appendOnly")
          .exists(_.equalsIgnoreCase("true")),
        "overwrite on an append-only table (delta.appendOnly=true) — the " +
          "appendOnly writer feature forbids removing or rewriting rows")
    }

    // column-mapped tables store PHYSICAL names in the data files (and
    // key add-action partitionValues/stats by them): rename on the way
    // out, or name-resolved reads would return nulls for every mapped
    // column — silently.
    val tableSchema = existingMeta.map(_.schema).getOrElse(schema)
    val mapped = DeltaColumnMapping.isMapped(tableSchema)
    val out = DeltaColumnMapping.renameToPhysical(df, tableSchema)
    val outParts =
      if (!mapped) parts
      else parts.map(c => tableSchema.fields.find(_.name == c)
        .map(DeltaColumnMapping.physicalName).getOrElse(c))

    val dataDir = s"$tp/write-${UUID.randomUUID()}"
    if (outParts.isEmpty) out.write.parquet(dataDir)
    else out.write.partitionBy(outParts: _*).parquet(dataDir)
    val listed = graft.sources.ParquetFooters.listFiles(dataDir, conf)
    val schemaJson =
      if (mapped) DeltaColumnMapping.physicalSchema(tableSchema).json
      else schema.json
    // row tracking: stamp fresh base ids + advance the high-water mark
    // in this commit (PROTOCOL.md §Row Tracking)
    val rowTracking = DeltaRowTracking.isSupported(st)
    val rt = rowTracking
    val adds = graft.sources.ParquetFooters
      .fileEntries(spark, dataDir, listed)
      .mapPartitions { it =>
        val sch = DataType.fromJson(schemaJson).asInstanceOf[StructType]
        it.map { fe =>
          val line = Jsons.toJson(Map("add" -> Map(
            "path" -> PathUtils.toDeltaUri(PathUtils.relativize(tp, fe.path)),
            "partitionValues" -> fe.partitionValues
              .map(p => p.field -> p.value).toMap,
            "size" -> fe.fileSizeBytes,
            "modificationTime" -> fe.lastModifiedMillis,
            "dataChange" -> true,
            "stats" -> DeltaStats.toJson(sch, fe.recordCount,
              fe.columnStats))))
          if (rt) s"${fe.recordCount}\t$line" else line
        }
      }

    val now = System.currentTimeMillis()
    val prevSnap =
      if (!overwrite || head.isEmpty) None
      else Some(new DeltaConversionSource(spark, tablePath,
        tp.stripSuffix("/").split('/').last).currentSnapshot())
    val removes: Iterator[String] = prevSnap match {
      case None => Iterator.empty
      case Some(snap) =>
        val lines = snap.listing.dataset
          .mapPartitions(_.map(fe => Jsons.toJson(Map("remove" -> Map(
            "path" -> PathUtils.toDeltaUri(PathUtils.relativize(tp, fe.path)),
            "deletionTimestamp" -> now,
            "dataChange" -> true)))))
        graft.util.StreamedLines.iterate(lines)
    }
    val header: Iterator[String] = (existingMeta match {
      case None => Iterator(
        Jsons.toJson(Map("protocol" ->
          Map("minReaderVersion" -> 1, "minWriterVersion" -> 2))),
        Jsons.toJson(Map("metaData" -> Map(
          "id" -> UUID.randomUUID().toString,
          "format" -> Map("provider" -> "parquet", "options" -> Map.empty),
          "schemaString" -> schemaJson,
          "partitionColumns" -> parts,
          "configuration" -> Map.empty,
          "createdTime" -> now))))
      case Some(_) => Iterator.empty
    }) ++ Iterator(Jsons.toJson(Map("commitInfo" -> Map(
      "timestamp" -> now,
      "operation" -> (if (overwrite) "WRITE OVERWRITE" else "WRITE"),
      "operationParameters" -> Map.empty))))

    val version = head.map(_ + 1).getOrElse(0L)
    val addIt =
      if (rowTracking)
        DeltaRowTracking.stampFreshIds(
          DeltaRowTracking.countedLines(
            graft.util.StreamedLines.iterate(adds)),
          DeltaRowTracking.highWaterMark(st) + 1,
          version)
      else graft.util.StreamedLines.iterate(adds)
    val allLines = header ++ removes ++ addIt
    val landed =
      if (overwrite || head.isEmpty || rowTracking) {
        // overwrite replaces the WHOLE prior state and table creation
        // writes metaData — neither commutes with an intervening commit,
        // so both keep the strict CAS. Row-id-assigning commits CAS
        // strictly too: a silent re-land after a concurrent id-assigning
        // commit would hand out the same id range twice.
        val ok = DeltaLog.writeCommit(tablePath, version, allLines)
        if (!ok) throw new IllegalStateException(
          s"concurrent writer committed version $version first at " +
            s"$tablePath — re-run the write against the new head")
        version
      } else
        // blind appends add only fresh files: they commute with any
        // intervening commit that doesn't change metadata/protocol —
        // delta-spark's most-retryable transaction class
        DeltaConflicts.commitWithRetry(spark, tablePath, version, allLines)
    WriteResult(listed.size.toLong, 0L, landed)
  }

  /** Structural match PLUS case-insensitive field names at every
    * nesting level — `equalsStructurally` alone lets a renamed column
    * through, and name-resolved reads would then return nulls silently.
    */
  private[delta] def sameSchema(table: StructType,
      written: StructType): Boolean =
    DataType.equalsStructurally(table, written, ignoreNullability = true) &&
      sameNames(table, written)

  private def sameNames(a: DataType, b: DataType): Boolean = (a, b) match {
    case (x: org.apache.spark.sql.types.StructType,
          y: org.apache.spark.sql.types.StructType) =>
      x.fields.length == y.fields.length &&
        x.fields.zip(y.fields).forall { case (f, g) =>
          f.name.equalsIgnoreCase(g.name) && sameNames(f.dataType, g.dataType)
        }
    case (x: org.apache.spark.sql.types.ArrayType,
          y: org.apache.spark.sql.types.ArrayType) =>
      sameNames(x.elementType, y.elementType)
    case (x: org.apache.spark.sql.types.MapType,
          y: org.apache.spark.sql.types.MapType) =>
      sameNames(x.keyType, y.keyType) && sameNames(x.valueType, y.valueType)
    case _ => true
  }
}
