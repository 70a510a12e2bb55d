package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression path canonicalization for joins whose two sides
  * spell a data file's path differently. A snapshot scan needs none: its
  * rows carry the listing's canonical path as the file-constant
  * `_metadata.graft_path` ([[graft.plans.ListingFields]]). What remains
  * are scans and files outside the listing: Iceberg v2 position- and
  * equality-delete files, Delta CDC sidecars read by path, and the bloom
  * index build. The join key must be identical on both sides or deleted
  * rows are silently served back.
  *
  * Two rules, because the two sides carry different forms:
  *
  * - [[scanPath]] for `_metadata.file_path` / `input_file_name()`: the
  *   parquet reader renders it in Hadoop URI form — percent-encoded EVEN
  *   WHEN the scheme is absent (`/tmp/t/cat=a%20b/f.parquet`, or
  *   `file:/tmp/t/cat=a%20b/f.parquet` from `spark.read.parquet`) — so it
  *   scheme-strips and %-decodes unconditionally. Literal '+' pre-encodes
  *   to %2B because `url_decode` form-decodes bare '+' to space.
  * - [[canonical]] for metadata-plane values (Iceberg delete-file
  *   `file_path` columns): mirrors scalar [[PathUtils.canonical]] —
  *   %-decode ONLY scheme-prefixed URIs; a bare path legitimately named
  *   `a%20b.parquet` stays untouched.
  */
object PathCols {

  def scanPath(c: Column): Column =
    url_decode(regexp_replace(
      regexp_replace(c, "^file:/+", "/"), "\\+", "%2B"))

  def canonical(c: Column): Column =
    when(c.startsWith("file:"), scanPath(c)).otherwise(c)
}
