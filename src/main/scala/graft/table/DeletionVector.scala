package graft.table

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, FileInputStream, FileOutputStream, RandomAccessFile}

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** DELETION-VECTOR blobs (the Iceberg-v3 / Delta DV shape re-expressed
  * minimally): one binary file per DATA file holding that file's deleted
  * row positions, sorted, delta-varint encoded — ~1-2 bytes per position
  * for realistic delete patterns vs 8+ in a raw long list, readable with
  * plain java.io in an executor task (no columnar reader spin-up for a
  * KB-class sidecar).
  *
  * Format `GDV1`: int32 magic, int64 count, then varint deltas (first
  * value absolute, then `pos - prev`; positions strictly ascending —
  * writers must pre-sort and may pass duplicates, which are skipped).
  */
object DeletionVector {
  private val Magic = 0x47445631 // "GDV1"

  /** Stream sorted (ascending, dupes allowed) positions into `path`.
    * Returns the distinct count. O(1) memory — safe for a task writing
    * a multi-million-row vector. */
  def write(path: String, sorted: Iterator[Long]): Long = {
    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(path)))
    var count = 0L
    var prev = -1L
    try {
      out.writeInt(Magic)
      out.writeLong(0L) // patched below
      while (sorted.hasNext) {
        val p = sorted.next()
        require(p >= 0, s"negative position $p")
        if (p != prev) {
          require(p > prev, s"positions not sorted: $p after $prev")
          writeVarint(out, if (count == 0L) p else p - prev)
          prev = p
          count += 1
        }
      }
    } finally out.close()
    val raf = new RandomAccessFile(path, "rw")
    try { raf.seek(4L); raf.writeLong(count) } finally raf.close()
    count
  }

  /** The whole vector as a sorted long array (binary-search ready). */
  def read(path: String): Array[Long] = {
    val in = new DataInputStream(new BufferedInputStream(
      new FileInputStream(path)))
    try {
      require(in.readInt() == Magic, s"not a deletion vector: $path")
      val n = in.readLong()
      require(n >= 0 && n <= Int.MaxValue, s"bad DV count $n in $path")
      val out = new Array[Long](n.toInt)
      var prev = 0L
      var i = 0
      while (i < n) {
        val d = readVarint(in)
        prev = if (i == 0) d else prev + d
        out(i) = prev
        i += 1
      }
      out
    } finally in.close()
  }

  private def writeVarint(out: DataOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) {
      out.writeByte(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.writeByte(v.toInt)
  }

  private def readVarint(in: DataInputStream): Long = {
    var shift = 0
    var acc = 0L
    var b = 0
    do {
      b = in.readUnsignedByte()
      acc |= (b & 0x7fL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    acc
  }
}

/** The ship-to-tasks index of a snapshot's deletion vectors: data-file
  * BASENAME → absolute DV path. Driver/plan state is O(targeted files)
  * strings; each task lazily loads only the vectors of the files it
  * actually reads (per-JVM cache), so a wide scan never materializes the
  * whole delete set anywhere. */
final case class DvIndex(byBasename: Map[String, String]) extends Serializable {
  // vectors loaded once per JVM, shared across tasks
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  // rows arrive file-clustered, so a per-thread last-seen memo turns the
  // per-row map lookup + UTF8String→String allocation into one bytes
  // compare; the UTF8String is CLONED before memoizing (row buffers are
  // reused underneath it)
  @transient private lazy val lastSeen =
    new ThreadLocal[Array[AnyRef]] {
      override def initialValue(): Array[AnyRef] = new Array[AnyRef](2)
    }
  private val noDv = new Array[Long](0)

  def contains(bn: UTF8String, pos: Long): Boolean = {
    val memo = lastSeen.get()
    var arr: Array[Long] = null
    val last = memo(0).asInstanceOf[UTF8String]
    if (last != null && bn.equals(last)) {
      arr = memo(1).asInstanceOf[Array[Long]]
    } else {
      val key = bn.toString
      arr = byBasename.get(key) match {
        case Some(path) =>
          cache.computeIfAbsent(key, _ => DeletionVector.read(path))
        case None => noDv
      }
      memo(0) = bn.clone()
      memo(1) = arr
    }
    java.util.Arrays.binarySearch(arr, pos) >= 0
  }
}

/** `dv_contains(file, pos)` — is row `pos` of data file `file` (basename)
  * recorded deleted in the snapshot's deletion vectors? The read path's
  * in-reader positional filter: a plain codegen'd boolean per row (binary search of a lazily-loaded sorted
  * array), so a merge-on-read scan keeps its single WholeStageCodegen
  * span with NO join in the plan. */
@ExpressionDescription(usage = "internal: deletion-vector row filter")
case class DvContains(file: Expression, pos: Expression, index: DvIndex)
    extends Expression {

  override def children: Seq[Expression] = Seq(file, pos)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "dv_contains"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val f = file.eval(input)
    val p = pos.eval(input)
    if (f == null || p == null) false
    else index.contains(f.asInstanceOf[UTF8String],
      p.asInstanceOf[java.lang.Number].longValue())
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val idx = ctx.addReferenceObj("dvIndex", index, classOf[DvIndex].getName)
    val fEv = file.genCode(ctx)
    val pEv = pos.genCode(ctx)
    ev.copy(
      code = code"""
        ${fEv.code}
        ${pEv.code}
        boolean ${ev.value} = false;
        if (!(${fEv.isNull}) && !(${pEv.isNull})) {
          ${ev.value} = $idx.contains(${fEv.value}, (long)(${pEv.value}));
        }
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DvContains =
    copy(file = newChildren(0), pos = newChildren(1))
}
