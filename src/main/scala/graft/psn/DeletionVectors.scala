package graft.psn

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.CRC32

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap

/** A deletion vector: per data file, the in-file row positions a version
  * deletes, as one Roaring bitmap (Chambi, Lemire et al., SPE 2016) — the
  * layout of Delta Lake's and Iceberg v3's vectors. A deleting commit
  * writes its own as one small file; a version's vector is the union of
  * the files it names ([[TableStore]]'s `_dv/` entries).
  *
  * File format: the tag [[Tag]], an entry count, then per entry the data
  * file's path relative to the table root, the bitmap's byte length and
  * Roaring's portable serialization, and last a CRC-32 of every byte
  * before it. A truncated or corrupt file fails its read loudly — it is
  * never read as "nothing deleted". */
private[graft] object DeletionVectors {
  private val Tag = "graft-dv-roaring-1\n".getBytes(UTF_8)

  /** The largest position a bitmap holds (Roaring stores unsigned 32-bit
    * ints); a delete of a row past it fails. */
  val MaxPosition: Long = 0xFFFFFFFFL

  /** The bitmap of `positions` in data file `file`. */
  def bitmapOf(file: String, positions: Iterable[Long]): RoaringBitmap = {
    val b = new RoaringBitmap
    positions.foreach { p =>
      if (p < 0 || p > MaxPosition) throw new IllegalStateException(
        s"row position $p of '$file' is outside the range a deletion " +
          s"vector holds [0, $MaxPosition]")
      b.add(p.toInt)
    }
    b.runOptimize()
    b
  }

  def write(target: Path, byFile: Map[String, RoaringBitmap]): Unit = {
    val bytes = new ByteArrayOutputStream
    val out = new DataOutputStream(bytes)
    out.write(Tag)
    out.writeInt(byFile.size)
    byFile.toSeq.sortBy(_._1).foreach { case (rel, b) =>
      out.writeUTF(rel)
      out.writeInt(b.serializedSizeInBytes)
      b.serialize(out)
    }
    out.flush()
    val crc = new CRC32
    crc.update(bytes.toByteArray)
    out.writeLong(crc.getValue)
    Files.createDirectories(target.getParent)
    Files.write(target, bytes.toByteArray)
  }

  def read(file: Path): Map[String, RoaringBitmap] = {
    val bytes = Files.readAllBytes(file)
    def corrupt(why: String) =
      new IllegalStateException(s"deletion vector $file is unreadable: $why")
    val body = bytes.length - 8
    if (body < Tag.length + 4 ||
        !java.util.Arrays.equals(bytes, 0, Tag.length, Tag, 0, Tag.length))
      throw corrupt("no format tag")
    val crc = new CRC32
    crc.update(bytes, 0, body)
    if (crc.getValue != ByteBuffer.wrap(bytes, body, 8).getLong)
      throw corrupt("checksum mismatch (truncated or corrupt)")
    val in = new DataInputStream(
      new ByteArrayInputStream(bytes, Tag.length, body - Tag.length))
    val entries = Seq.fill(in.readInt()) {
      val rel = in.readUTF()
      val size = in.readInt()
      val b = new RoaringBitmap
      b.deserialize(in)
      if (b.serializedSizeInBytes != size) throw corrupt(s"entry '$rel' misframed")
      rel -> b
    }
    if (in.available != 0) throw corrupt("trailing bytes")
    entries.toMap
  }

  /** The union of `vectors`, per data file. */
  def union(vectors: Seq[Map[String, RoaringBitmap]]): Map[String, RoaringBitmap] =
    vectors.flatten.groupMapReduce(_._1)(_._2)(RoaringBitmap.or(_, _))
}

/** The positions one scan drops, keyed by each scanned file's absolute
  * path. Two are equal exactly when they drop the same positions of the
  * same files, so Spark's cache manager matches two scans' plans only
  * when they read the same rows. */
private[graft] final class DeletedRows(val byPath: Map[String, RoaringBitmap])
    extends Serializable {
  /** The bitmap of the file `_metadata.file_path` renders as `uri` (a
    * percent-encoded URI); null when the file has none. */
  def bitsOf(uri: UTF8String): RoaringBitmap =
    byPath.getOrElse(new java.net.URI(uri.toString).getPath, null)
  def keeps(bits: RoaringBitmap, pos: Long): Boolean =
    bits == null || pos < 0 || pos > DeletionVectors.MaxPosition ||
      !bits.contains(pos.toInt)
  override def equals(o: Any): Boolean = o match {
    case d: DeletedRows => byPath == d.byPath
    case _ => false
  }
  override lazy val hashCode: Int = byPath.hashCode
  override def toString: String = s"deleted(${byPath.size} files, " +
    s"${byPath.values.map(_.getLongCardinality).sum} rows)"
}

/** True for a row its file's bitmap does not name: the one predicate a
  * scan subtracts its deletion vector with, over `_metadata.file_path`
  * (`path`) and `_metadata.row_index` (`pos`). Generated code looks a
  * file's bitmap up once per run of rows from that file. */
private[graft] final case class KeepLive(deleted: DeletedRows,
    path: Expression, pos: Expression) extends BinaryExpression with Predicate {
  override def left: Expression = path
  override def right: Expression = pos
  override def nullable: Boolean = false
  override def prettyName: String = "keep_live"

  override def eval(input: InternalRow): Any = {
    val p = path.eval(input)
    p == null || deleted.keeps(deleted.bitsOf(p.asInstanceOf[UTF8String]),
      pos.eval(input).asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dv = ctx.addReferenceObj("deleted", deleted, classOf[DeletedRows].getName)
    val last = ctx.addMutableState(classOf[UTF8String].getName, "dvPath")
    val bits = ctx.addMutableState(classOf[RoaringBitmap].getName, "dvBits")
    val p = path.genCode(ctx)
    val r = pos.genCode(ctx)
    ev.copy(code = code"""
      ${p.code}
      ${r.code}
      boolean ${ev.value} = true;
      if (!${p.isNull}) {
        if ($last == null || !$last.equals(${p.value})) {
          $last = ${p.value}.clone();
          $bits = $dv.bitsOf($last);
        }
        ${ev.value} = $dv.keeps($bits, ${r.value});
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): KeepLive = copy(path = newLeft, pos = newRight)
}
