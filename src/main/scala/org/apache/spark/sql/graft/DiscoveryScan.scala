package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Predicate}
import org.apache.spark.sql.classic.{DataFrame => ClassicDataFrame}
import org.roaringbitmap.RoaringBitmap

/** Physically planned candidate scans for DML discovery
  * (graft.sources.MutableTable's planned path, taken when the driver-side
  * path declines): the value-independent scan of a data file is
  * planned ONCE and its InternalRow RDD kept, so a later statement binds
  * its predicate to the cached scan instead of paying analysis,
  * optimization and codegen again.
  */
object DiscoveryScan {

  /** A physically-planned candidate scan, reusable across executions.
    * The RDD re-reads the (immutable) files on every job — plan reuse,
    * never result reuse.
    */
  final case class CachedScan(rdd: RDD[InternalRow], output: Seq[Attribute])

  def prepareScan(df: DataFrame): CachedScan = {
    val qe = df.asInstanceOf[ClassicDataFrame].queryExecution
    CachedScan(qe.executedPlan.execute(), qe.executedPlan.output)
  }

  /** One job over the cached scan answering, PER FILE, the row positions
    * matching a bound predicate — the merge-on-read DML discovery shape
    * (the file name and row position ride the scan as the `fileOrd` and
    * `posOrd` columns). Only the bitmaps cross the job boundary, never
    * rows.
    */
  def matchPositionsByFile(spark: SparkSession, scan: CachedScan,
      pred: org.apache.spark.sql.catalyst.expressions.Expression,
      fileOrd: Int, posOrd: Int): Map[String, RoaringBitmap] = {
    val sc = spark.sparkContext
    if (scan.rdd.getNumPartitions == 0) return Map.empty
    sc.runJob(scan.rdd, (it: Iterator[InternalRow]) => {
      val p = Predicate.create(pred)
      p.initialize(org.apache.spark.TaskContext.getPartitionId())
      val m = scala.collection.mutable.HashMap.empty[String, RoaringBitmap]
      // rows within a split share one file: cache the last decoded name
      var lastRaw: org.apache.spark.unsafe.types.UTF8String = null
      var last: RoaringBitmap = null
      it.foreach { r =>
        if (p.eval(r)) {
          val raw = r.getUTF8String(fileOrd)
          if (lastRaw == null || !raw.equals(lastRaw)) {
            lastRaw = raw.clone()
            last = m.getOrElseUpdate(raw.toString, new RoaringBitmap())
          }
          last.add(r.getLong(posOrd).toInt)
        }
      }
      m.toMap
    }).foldLeft(Map.empty[String, RoaringBitmap]) { (acc, part) =>
      part.foldLeft(acc) { case (a, (f, b)) =>
        a.updated(f, a.get(f).fold(b)(RoaringBitmap.or(_, b)))
      }
    }
  }
}
