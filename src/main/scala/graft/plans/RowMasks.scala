package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, FileSourceConstantMetadataStructField, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.execution.datasources.FileFormat
import org.apache.spark.sql.types.{StringType, StructField}
import org.apache.spark.unsafe.types.UTF8String

import graft.formats.delta.DeletionVectors
import graft.util.SerializableHadoopConf

/** Per-file constants a [[SnapshotFileIndex]] scan carries beside each
  * data file, read as `_metadata.<name>` (Spark's file-constant metadata:
  * `listFiles` returns them with each `FileStatusWithMetadata`, the
  * scan's FileFormat declares them through this mixin):
  *
  *   - [[ListingFields.Path]]: the listing's canonical `FileEntry.path`,
  *     the key row-level operations join on — canonicalized once at the
  *     metadata plane, never per row;
  *   - [[ListingFields.Dv]]: the file's deletion-vector descriptor
  *     ([[DeletionVectors.toScanField]] form), null when it has none.
  */
trait ListingFields extends FileFormat {
  override def metadataSchemaFields: Seq[StructField] =
    super.metadataSchemaFields ++ Seq(
      FileSourceConstantMetadataStructField(ListingFields.Path, StringType,
        nullable = true),
      FileSourceConstantMetadataStructField(ListingFields.Dv, StringType,
        nullable = true))
}

object ListingFields {
  val Path = "graft_path"
  val Dv = "graft_dv"
}

/** `graft_dv_contains(dv, pos)`: true when row position `pos` is deleted
  * by the deletion vector `dv` of the row's data file (null `dv`: no
  * vector, nothing deleted). The scan masks deleted rows with
  * `NOT graft_dv_contains(_metadata.graft_dv, _metadata.row_index)` — a
  * filter over the file's own rows, with no join, broadcast or extra job.
  *
  * Each task decodes a file's vector once, through the session's Hadoop
  * conf, and keeps it while the file's rows stream past (a file's rows
  * arrive together; a split file re-decodes once per split). The cache
  * is per task: every task deserializes its own copy of the expression.
  */
case class DvContains(left: Expression, right: Expression)(
    conf: Broadcast[SerializableHadoopConf])
  extends BinaryExpression with Predicate {

  override def prettyName: String = "graft_dv_contains"
  override def nullable: Boolean = false
  override protected def otherCopyArgs: Seq[AnyRef] = conf :: Nil

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DvContains =
    copy(left = newLeft, right = newRight)(conf)

  @transient private var lastDv: UTF8String = _
  @transient private var lastMask: DeletionVectors.RowMask = _

  def deleted(dv: UTF8String, pos: Long): Boolean = {
    if (lastDv == null || !lastDv.equals(dv)) {
      lastMask = DeletionVectors.rowMask(conf.value.value, "",
        DeletionVectors.fromScanField(dv.toString))
      lastDv = dv.clone()
    }
    lastMask.contains(pos)
  }

  override def eval(input: InternalRow): Any = {
    val dv = left.eval(input)
    val pos = right.eval(input)
    dv != null && pos != null &&
      deleted(dv.asInstanceOf[UTF8String], pos.asInstanceOf[Long])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("dvContains", this)
    val dv = left.genCode(ctx)
    val pos = right.genCode(ctx)
    ev.copy(code = code"""
      ${dv.code}
      ${pos.code}
      boolean ${ev.value} = !${dv.isNull} && !${pos.isNull} &&
        $self.deleted(${dv.value}, ${pos.value});""", isNull = FalseLiteral)
  }
}
