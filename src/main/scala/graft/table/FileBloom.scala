package graft.table

import java.io.ByteArrayOutputStream
import java.util.Base64

import org.apache.parquet.column.values.bloomfilter.{BlockSplitBloomFilter, BloomFilter}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Per-file Bloom filters for point-lookup file skipping — the stat layer
  * min/max can't provide: a high-cardinality key scattered across files
  * (uuid-ish ids, hashes) makes every file's [min,max] contain every
  * probe, so `WHERE id = x` scans the whole table. Iceberg solves it with
  * write-side bloom metrics; this rebuild does the same with PARQUET'S OWN
  * bloom filters:
  *
  *  - the append path turns on `parquet.bloom.filter.enabled#<col>` for
  *    the columns listed in the `bloom.columns` table property, so the
  *    data files carry standard split-block bloom filters (readable by
  *    any parquet reader, not just this library);
  *  - commit-time harvesting OR-merges the row-group filters from the
  *    footer metadata region into one per-file bitset stored base64 in
  *    the manifest — O(filter bytes) I/O, no data decode, same commit
  *    cost class as the min/max footer stats;
  *  - plan-time pruning tests `=` / `IN` literals against the manifest
  *    bitsets with parquet's own hash (xxhash over the PHYSICAL encoding,
  *    [[BlockSplitBloomFilter.hash]]) — bit-identical to what the writer
  *    inserted, no reimplementation to drift.
  *
  * Soundness: a bloom NEVER claims absence of an inserted value, so a
  * file containing a matching row is never skipped; false positives only
  * keep extra files (the same conservative stance as [[Pruning]]). Files
  * whose row groups carry no or unmergeable filters get no manifest
  * bloom → never skipped.
  *
  * Manifest size: bitset bytes ≈ `optimalNumOfBits(ndv, fpp)/8` per file
  * per column (≈ 12 KB at ndv 10k / fpp 1%). The `bloom.ndv` property
  * bounds it; Iceberg keeps such payloads in side files (puffin) — at
  * this metadata scale inline-in-JSON keeps the log one file per commit.
  */
object FileBloom {

  /** Columns eligible for bloom skipping: types whose parquet physical
    * encoding the probe hash reproduces exactly. TIMESTAMPS ARE EXCLUDED:
    * Spark 4 writes TimestampType as INT96 by default
    * (`spark.sql.parquet.outputTimestampType`), whose bloom hashes
    * 12-byte binaries while a probe would hash an INT64 — the mismatch
    * would UNSOUNDLY skip files that hold matching rows. */
  def supported(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | StringType | DateType => true
    case _ => false
  }

  /** OR-merge the per-row-group bloom filters of `columns` from an open
    * reader's file (the footer read of [[ParquetStats.forFile]]). A
    * column missing a filter in ANY row group (writer fell back, e.g.
    * fully dictionary-encoded chunk) yields no entry — callers then
    * simply never skip on it. */
  private[table] def harvest(
      reader: ParquetFileReader,
      columns: Set[String]): Map[String, String] = {
    if (columns.isEmpty) return Map.empty
    val blocks = reader.getFooter.getBlocks.asScala.toSeq
    columns.flatMap { c =>
      val perGroup: Seq[Option[BloomFilter]] = blocks.map { b =>
        b.getColumns.asScala
          .find(ch => ch.getPath.toDotString == c)
          .flatMap(ch => Option(reader.readBloomFilter(ch)))
      }
      if (perGroup.isEmpty || perGroup.exists(_.isEmpty)) None
      else {
        val filters = perGroup.flatten
        val head = filters.head
        if (filters.tail.exists(f => !head.canMergeFrom(f))) None
        else {
          filters.tail.foreach(head.merge)
          val bos = new ByteArrayOutputStream(head.getBitsetSize)
          head.writeTo(bos)
          Some(c -> Base64.getEncoder.encodeToString(bos.toByteArray))
        }
      }
    }.toMap
  }

  /** May `value` (a Catalyst literal value for a column of type `dt`) be
    * present, per the base64 bitset? Unsupported types answer true. */
  def mayContain(b64: String, dt: DataType, value: Any): Boolean = {
    if (value == null) return true
    val bf = new BlockSplitBloomFilter(Base64.getDecoder.decode(b64))
    hashOf(bf, dt, value) match {
      case Some(h) => bf.findHash(h)
      case None => true
    }
  }

  /** Parquet's hash of the literal under the column's PHYSICAL type —
    * must mirror the write side: INT32 for int/date, INT64 for
    * long/timestamp, BINARY utf8 for strings. */
  private def hashOf(bf: BloomFilter, dt: DataType, v: Any): Option[Long] =
    dt match {
      case IntegerType | DateType => v match {
        case i: Int => Some(bf.hash(i))
        case _ => None
      }
      case LongType => v match {
        case l: Long => Some(bf.hash(l))
        case _ => None
      }
      case StringType => v match {
        case s: UTF8String =>
          Some(bf.hash(Binary.fromConstantByteArray(s.getBytes)))
        case s: String =>
          Some(bf.hash(Binary.fromString(s)))
        case _ => None
      }
      case _ => None
    }
}
