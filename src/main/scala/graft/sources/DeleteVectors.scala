package graft.sources

import java.nio.ByteBuffer
import java.util.Base64

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap

/** A snapshot's deleted rows: for each data file of its manifest that
  * has any, a RoaringBitmap of the deleted rows' positions (0-based, in
  * the file's row order — parquet's `row_index`, and the order of the
  * driver codec's decoded rows). The manifest holds them inline as a
  * `"deletes"` object of base64 bitmaps, the way DuckLake's
  * `ducklake_delete_file` names a delete file per data file, so restore,
  * time travel, staged transactions and vacuum carry them with the file
  * list.
  *
  * Values are shared by every reader of a snapshot and never mutated:
  * [[plus]] builds new bitmaps.
  */
final case class DeleteVectors(byFile: Map[String, RoaringBitmap]) {

  def isEmpty: Boolean = byFile.isEmpty

  def get(file: String): Option[RoaringBitmap] = byFile.get(file)

  /** Deleted positions over all files. */
  def positions: Long = byFile.valuesIterator.map(_.getLongCardinality).sum

  /** These vectors with `more`'s positions added, file by file. */
  def plus(more: Map[String, RoaringBitmap]): DeleteVectors =
    DeleteVectors(more.foldLeft(byFile) { case (acc, (f, b)) =>
      acc.updated(f, acc.get(f).fold(b.clone())(RoaringBitmap.or(_, b)))
    })

  /** Only the vectors of files `keep` admits. */
  def filterFiles(keep: String => Boolean): DeleteVectors =
    DeleteVectors(byFile.filter { case (f, _) => keep(f) })

  /** The manifest's `"deletes"` object. */
  def json: String = byFile.toSeq.sortBy(_._1)
    .map { case (f, b) => "\"" + f + "\": \"" + DeleteVectors.encode(b) + "\"" }
    .mkString("{", ", ", "}")

  // the scan-side lookup, keyed as the scan reports the file name
  @transient private lazy val byUtf8: java.util.HashMap[UTF8String, RoaringBitmap] = {
    val m = new java.util.HashMap[UTF8String, RoaringBitmap](byFile.size * 2)
    byFile.foreach { case (f, b) => m.put(UTF8String.fromString(f), b) }
    m
  }

  /** Is row `pos` of the file named `file` deleted? Positions are
    * unsigned 32-bit in the bitmap, far past any data file's row count.
    */
  def deleted(file: UTF8String, pos: Long): Boolean = {
    val b = byUtf8.get(file)
    b != null && b.contains(pos.toInt)
  }
}

object DeleteVectors {

  val empty: DeleteVectors = DeleteVectors(Map.empty)

  def encode(b: RoaringBitmap): String = {
    val c = b.clone()
    c.runOptimize()
    val buf = ByteBuffer.allocate(c.serializedSizeInBytes())
    c.serialize(buf)
    Base64.getEncoder.encodeToString(buf.array())
  }

  def decode(s: String): RoaringBitmap = {
    val b = new RoaringBitmap()
    b.deserialize(ByteBuffer.wrap(Base64.getDecoder.decode(s)))
    b
  }

  /** Parse a `"deletes"` object's body — `"file": "base64", …` — as
    * [[json]] writes it (names and base64 hold no quotes or commas).
    */
  def parse(body: String): DeleteVectors =
    if (body.trim.isEmpty) empty
    else DeleteVectors(body.split(",").iterator.map { entry =>
      val kv = entry.split(":")
      val unq = (s: String) => s.trim.stripPrefix("\"").stripSuffix("\"")
      unq(kv(0)) -> decode(unq(kv(1)))
    }.toMap)
}

/** TRUE when row `rowIndex` of the data file named `fileName` is
  * deleted by `vectors`: the scan-side form of a snapshot's delete
  * vectors, over the parquet source's `_metadata.file_name` and
  * `_metadata.row_index`. A snapshot frame filters on its negation; a
  * planned UPDATE selects the rows it updates with it.
  */
final case class DeletedRow(fileName: Expression, rowIndex: Expression, vectors: DeleteVectors)
    extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = fileName
  override def right: Expression = rowIndex
  override def inputTypes: Seq[DataType] = Seq(StringType, LongType)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "deleted_row"

  // the bitmaps stay out of plan strings
  override def toString: String =
    s"$prettyName($fileName, $rowIndex, ${vectors.positions} rows of ${vectors.byFile.size} files)"

  override def eval(input: InternalRow): Any = {
    val f = fileName.eval(input)
    val p = rowIndex.eval(input)
    f != null && p != null && vectors.deleted(f.asInstanceOf[UTF8String], p.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("deleteVectors", vectors, classOf[DeleteVectors].getName)
    val f = fileName.genCode(ctx)
    val p = rowIndex.genCode(ctx)
    ev.copy(code =
      code"""
         |${f.code}
         |${p.code}
         |boolean ${ev.value} = !${f.isNull} && !${p.isNull} && $ref.deleted(${f.value}, ${p.value});
       """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(fileName = newLeft, rowIndex = newRight)
}
