package graft.sources

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{PartitionFieldSpec, TableDescriptor, TableSnapshot, Transform}
import graft.util.HadoopConfs

/** Batch writes to NON-Delta graft tables —
  * `df.write.format("graft").option("tableFormat", "iceberg"|"hudi"|
  * "paimon")` (Delta keeps its richer native path in
  * [[graft.formats.delta.DeltaWrite]]: constraints, column mapping,
  * streamed txn commits).
  *
  * Mechanics: the rows land as parquet in a staged subdir of the table
  * (hive layout when `partitionBy` is set), their stats come from a
  * distributed footer scan, and the commit rides the format's
  * conversion target as a full-set snapshot sync — append = live set ∪
  * staged, overwrite = staged only (the target's anti-join diff turns
  * that into removes+adds). One code path, three formats, and every
  * scale property of the sync targets (executor-authored manifests,
  * streamed commit lines, CAS + retry) applies to user writes for free.
  *
  * Guard rails: an existing table pins the format (a `tableFormat`
  * that disagrees refuses); appends require the exact table schema
  * (evolve first via `GRAFT ALTER TABLE`) and the table's partition
  * columns; `partitionBy` on an existing unpartitioned table refuses.
  */
object GraftBatchWrite {

  def write(spark: SparkSession, rawPath: String, df: DataFrame,
      fmt: String, overwrite: Boolean,
      partitionCols: Seq[String]): Unit = {
    val path = graft.util.PathUtils.canonical(rawPath)
    val name = path.stripSuffix("/").split('/').last
    require(Seq("ICEBERG", "HUDI", "PAIMON").contains(fmt),
      s"GraftBatchWrite handles iceberg/hudi/paimon, not $fmt")

    val existing: Option[graft.spi.ConversionSource] =
      CatalogConversionSource.detectFormat(path) match {
        case graft.model.TableFormats.Parquet => None // not created yet
        case f if f == fmt =>
          Some(CatalogConversionSource.fromPath(spark, path, name))
        case other => throw new IllegalArgumentException(
          s"table at $path is $other but tableFormat=$fmt was requested")
      }

    // schema + partitioning gates against the existing table
    val parts: Seq[String] = existing match {
      case Some(src) =>
        val table = src.currentTable()
        val cur = table.schema
        val curSig = cur.map(f => (f.name, f.dataType.catalogString))
        val newSig = df.schema.map(f => (f.name, f.dataType.catalogString))
        require(curSig == newSig,
          s"schema mismatch: table has ${cur.toDDL}, write has " +
            s"${df.schema.toDDL} — evolve with GRAFT ALTER TABLE first")
        val tableParts = table.partitionFields.map(_.partitionColumnName)
        require(partitionCols.isEmpty || partitionCols == tableParts,
          s"partitionBy(${partitionCols.mkString(",")}) does not match " +
            s"the table's partitioning (${tableParts.mkString(",")})")
        tableParts
      case None => partitionCols
    }
    parts.foreach(p => require(df.schema.fieldNames.contains(p),
      s"partition column $p is not in the written columns"))

    val staged = s"$path/data-${UUID.randomUUID()}"
    if (parts.isEmpty) df.write.parquet(staged)
    else df.write.partitionBy(parts: _*).parquet(staged)

    val conf = HadoopConfs.session(spark)
    val listed = ParquetFooters.listFiles(staged, conf)
    val adds = ParquetFooters.fileEntries(spark, staged, listed)

    val table = existing.map(_.currentTable()).getOrElse(
      TableDescriptor(name, fmt, path, df.schema.json,
        parts.map(PartitionFieldSpec(_, Transform.Value)),
        if (parts.nonEmpty) graft.model.Layout.HivePartitioned
        else graft.model.Layout.Flat,
        System.currentTimeMillis()))

    // Commit discipline, learned from a race the ConcurrencySpec caught:
    // APPENDS must NEVER go through a full-set snapshot diff — a commit
    // landing between the live-set read and the diff would have its
    // files absent from the "full" set and be diffed away as removes
    // (silent row loss). Appends therefore use each format's ADDITIVE
    // primitive: Iceberg's conflict-retried appendDataFiles, and the
    // Hudi/Paimon targets' syncFilesForDiff(adds, ∅) — no anti-join
    // against a stale live set exists anywhere on the append path.
    // CREATE and OVERWRITE stay full-set snapshot syncs (overwrite
    // REPLACES the table as of its commit — a concurrent append losing
    // to an overwrite is overwrite semantics, not a race bug); their
    // CAS losses retry bounded.
    var attempt = 0
    var done = false
    while (!done) {
      val liveNow = CatalogConversionSource.detectFormat(path) !=
        graft.model.TableFormats.Parquet
      try {
        if (liveNow && !overwrite) {
          fmt match {
            case "ICEBERG" =>
              graft.formats.iceberg.IcebergDeletes.appendDataFiles(
                spark, path, staged)
            case _ =>
              import spark.implicits._
              val target: graft.spi.ConversionTarget =
                if (fmt == "HUDI")
                  new graft.formats.hudi.HudiConversionTarget(spark, path)
                else
                  new graft.formats.paimon.PaimonConversionTarget(spark, path)
              target.beginSync(table)
              target.syncSchema(table.schema)
              target.syncPartitionSpec(table.partitionFields)
              target.syncFilesForDiff(
                graft.model.FilesDelta(Right(adds), Left(Vector.empty)))
              target.completeSync()
          }
          done = true
        } else {
          val snapshot = TableSnapshot(table, adds,
            s"${System.currentTimeMillis()}-$attempt")
          val target: graft.spi.ConversionTarget = fmt match {
            case "ICEBERG" =>
              new graft.formats.iceberg.IcebergConversionTarget(spark, path)
            case "HUDI" =>
              new graft.formats.hudi.HudiConversionTarget(spark, path)
            case "PAIMON" =>
              new graft.formats.paimon.PaimonConversionTarget(spark, path)
          }
          val outcomes = graft.sync.TableFormatSync.syncSnapshot(
            Seq(target), snapshot, "GRAFT_WRITE")
          outcomes.find(_.status != "SUCCESS").foreach(o =>
            throw new IllegalStateException(
              s"graft write to $fmt failed: $o"))
          done = true
        }
      } catch {
        case e: IllegalStateException
            if e.getMessage.contains("concurrent writer") && attempt < 5 =>
          attempt += 1
          Thread.sleep(50L * attempt)
      }
    }
  }

  /** Does ANY graft-readable metadata plane exist at the path? (the
    * SaveMode existence probe — format-agnostic, unlike the Delta-only
    * latestVersion check)
    */
  def tableExists(path: String): Boolean =
    CatalogConversionSource.detectFormat(path) !=
      graft.model.TableFormats.Parquet
}
