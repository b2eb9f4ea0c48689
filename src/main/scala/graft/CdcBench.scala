package graft

import org.apache.spark.sql.functions._

/** CDC merge-cost measurement (VERDICT r8 #1/#4 "done" evidence): on a
  * FIXED snapshot, per-merge wall-clock must track the UPDATE size, not
  * the snapshot size — the property that separates
  * `Layout.upsertPartitioned` (q157) from `cdcApply`'s whole-snapshot
  * rewrite (q143).
  *
  * Protocol: snapshot = the lineitem table ×8 dense replicas (48M
  * rows / ~1.5 GB — big enough that I/O, not session fixed costs, is
  * the wall-clock signal; bytes_rewritten is reported alongside as the
  * machine-independent scale currency), re-keyed densely 0..N−1
  * (Packing.globalRowNumber — staging, untimed), bucket = `key div ceil(N/B)`
  * with B=256 — the locality-aligned bucketing the operator doc
  * prescribes for range-local update batches (recent-key updates are
  * the realistic CDC shape; the hash default covers uniform keys,
  * where touched buckets saturate at min(B, batchKeys)). For each
  * update size U the batch is a contiguous key range at a varying
  * offset, values rewritten; the timed leg is ONE upsertPartitioned
  * call. A full-rewrite control (read whole snapshot → upsert →
  * overwrite a sibling dir, q143's shape) runs at the SMALLEST U — its
  * cost is O(snapshot) regardless of U.
  *
  * Emits one JSON line:
  *   {"snapshot_rows":N,"buckets":B,
  *    "merges":[{"update_rows":U,"touched":T,"sec":S},…],
  *    "full_rewrite_control":{"update_rows":U0,"sec":S}}
  */
object CdcBench {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/tmp/sf1ci")
    val buckets = 256
    val spark = Sessions.local("graft-cdc-bench")
    import graft.operators.{Layout, Packing}

    val work = java.nio.file.Files.createTempDirectory("graft_cdc_bench")
    val snap = work.resolve("snap").toString
    val rep = 8
    val one = Packing.globalRowNumber(
        spark.read.parquet(s"$src/lineitem.parquet")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice"), col("l_shipdate"), col("l_returnflag")),
        order = struct(col("l_orderkey"), col("l_linenumber")), posName = "pos")
      .localCheckpoint(true)
    val n1 = one.count()
    // rep dense replicas → a ~1.5 GB snapshot, so merge cost is I/O-
    // dominated even on local NVMe (6M rows alone is fixed-cost-bound)
    val ev = one
      .withColumn("__r", explode(sequence(lit(0L), lit(rep - 1L))))
      .withColumn("key", col("__r") * n1 + col("pos"))
      .drop("__r", "pos")
    val n = n1 * rep
    val span = (n + buckets - 1) / buckets
    def bucketExpr = call_function("div", col("key"), lit(span))
    Layout.writeBucketed(ev, snap, bucketExpr)

    def updates(u: Long, offset: Long) = ev
      .filter(col("key") >= offset && col("key") < offset + u)
      .withColumn("l_quantity", col("l_quantity") + 1.0d)
      .localCheckpoint(true) // staging excluded from the timed leg

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    def dirBytes(path: String): Long = {
      val d = new org.apache.hadoop.fs.Path(path)
      val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(d).getLength
    }
    val sizes = Seq(1000L, 100000L, 1000000L)
    val merges = sizes.zipWithIndex.map { case (u, i) =>
      val upd = updates(u, i * 1500000L)
      val rows = upd.count()
      val (touched, sec) = time {
        Layout.upsertPartitioned(spark, snap, upd, Seq("key"), bucketExpr)
      }
      val bytes = Layout.bucketFileSignatures(spark, snap)
        .filter(kv => touched.contains(kv._1))
        .values.flatMap(_.values.map(_._1)).sum
      s"""{"update_rows":$rows,"touched":${touched.size},"sec":${Fmt.fixed(sec, 3)},"bytes_rewritten":$bytes}"""
    }

    // q143-shape control: full-snapshot rewrite for the SMALLEST batch
    val ctlOut = work.resolve("full").toString
    val upd0 = updates(sizes.head, 6500000L)
    val ctlRows = upd0.count()
    val (_, ctlSec) = time {
      Layout.upsert(spark.read.parquet(snap).drop("__bucket"), upd0, Seq("key"))
        .write.mode("overwrite").parquet(ctlOut)
    }
    val ctlBytes = dirBytes(ctlOut)

    println(s"""{"snapshot_rows":$n,"snapshot_bytes":${dirBytes(snap)},"buckets":$buckets,""" +
      s""""merges":[${merges.mkString(",")}],""" +
      s""""full_rewrite_control":{"update_rows":$ctlRows,"sec":${Fmt.fixed(ctlSec, 3)},"bytes_rewritten":$ctlBytes}}""")
    Staging.deleteRecursively(work)
    spark.stop()
  }
}
