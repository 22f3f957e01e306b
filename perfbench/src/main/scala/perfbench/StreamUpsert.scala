package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.lake.Versioned

/** `stream_upsert`: an open-loop generator lands seeded `events` batch
  * files into a file-source stream on a fixed schedule; the stream runs
  * `groupBy(user_id).count` into the graft sink in Update mode keyed on
  * `user_id`. After the fixed-rate phase a backlog of files lands at
  * once and is drained, [[Bursts]] times.
  *
  * A reader thread polls the sink's head version, which gives each
  * version the time it became visible. Freshness of a file is the time
  * from its scheduled landing until the first visible version holding
  * its rows (a micro-batch takes every file landed since the previous
  * one and each file has the same row count, so cumulative input rows
  * say which files a batch covered).
  *
  * Set-up starts a fresh query on a priming file, drains it and stops
  * it, three times. The measured query then drains [[Priming]] priming
  * files, one micro-batch each, before the schedule starts.
  */
object StreamUpsert {
  /** Priming micro-batches the measured query runs before its schedule:
    * trigger times still fall over the first several batches of a JVM. */
  val Priming = 8
  /** Backlog bursts after the fixed-rate phase; the drain rate is their
    * median, as one burst is one micro-batch. */
  val Bursts = 3

  def run(spark: SparkSession, args: Main.Args, res: Main.Result): Unit = {
    val in = s"${args.inputs}/stream"
    val p = new ObjectMapper().readTree(new File(s"$in/params.json"))
    val periodNs = p.get("period_ms").asLong * 1000000L
    val rowsPerFile = p.get("rows_per_file").asLong
    val nFixed = p.get("fixed_files").asInt
    val nBurst = p.get("burst_files").asInt
    def burst(b: Int) = nFixed + b * nBurst until nFixed + (b + 1) * nBurst
    val stage = new File(s"$in/stage")
    val schema = spark.read.parquet(s"$stage/prime0.parquet").schema
    def prime(i: Int, dir: File): Unit = Files.copy(
      new File(stage, s"prime$i.parquet").toPath,
      new File(dir, s"prime$i.parquet").toPath)

    def start(root: String): StreamingQuery = spark.readStream
      .schema(schema)
      .parquet(s"$root/src")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
      .writeStream.format("graft")
      .outputMode("update")
      .option("keyCols", "user_id")
      .option("path", s"$root/table")
      .option("checkpointLocation", s"$root/ckpt")
      .start()

    for (i <- 0 until 3) {
      val root = s"${args.work}/stream/setup$i"
      new File(s"$root/src").mkdirs()
      prime(0, new File(s"$root/src"))
      val t0 = System.nanoTime()
      val q = start(root)
      try q.processAllAvailable() finally q.stop()
      res.setup += (System.nanoTime() - t0) / 1e9
    }

    val root = s"${args.work}/stream/run"
    val src = new File(s"$root/src")
    src.mkdirs()
    val table = s"$root/table"
    val seen = mutable.ArrayBuffer[(Int, Long)]() // (version, visible at)
    @volatile var polling = true
    val poller = new Thread(() => {
      var last = -1
      while (polling) {
        val v = Trace.span(spark, "lake.latest_version") {
          Versioned.latestVersion(spark, table).getOrElse(-1)
        }
        if (v > last) {
          val now = System.nanoTime()
          seen.synchronized((last + 1 to v).foreach(k => seen += k -> now))
          last = v
        }
        Thread.sleep(10)
      }
    }, "perfbench-poller")

    val sched = new Array[Long](nFixed + Bursts * nBurst)
    val late = mutable.ArrayBuffer[Double]()
    def land(i: Int): Unit = {
      val f = new File(stage, f"f$i%05d.parquet")
      Files.setLastModifiedTime(f.toPath,
        FileTime.fromMillis(System.currentTimeMillis()))
      Files.move(f.toPath, new File(src, f.getName).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      late += (System.nanoTime() - sched(i)) / 1e6
    }

    // the measured query drains the priming files first, so the schedule
    // does not open on its one-off first-batch costs
    val warm0 = System.nanoTime()
    val q = Trace.span(spark, "streaming.start")(start(root))
    for (i <- 0 until Priming) { prime(i, src); q.processAllAvailable() }
    res.values("warmup_s") = (System.nanoTime() - warm0) / 1e9
    val primeVersion = Versioned.latestVersion(spark, table).get
    val primeBatches = q.recentProgress.count(_.numInputRows > 0)
    res.values("stream_run_id") = q.runId.toString
    Main.phase("measure") {
      poller.start()
      val t0 = System.nanoTime() + 100000000L
      for (i <- 0 until nFixed) {
        sched(i) = t0 + i * periodNs
        val wait = sched(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        land(i)
      }
      q.processAllAvailable()
      // bursts: each lands at once on an idle stream and is drained
      for (b <- 0 until Bursts) {
        val tb = System.nanoTime()
        for (i <- burst(b)) { sched(i) = tb; land(i) }
        q.processAllAvailable()
        // the poller sees the last version within one poll period
        Thread.sleep(50)
      }
      polling = false
      poller.join()
      Trace.span(spark, "streaming.stop")(q.stop())
    }
    res.values("heap_retained_mb") = Main.heapRetainedMb()

    val all = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
    val finalVersion = Versioned.latestVersion(spark, table).get
    res.attempted = nFixed + Bursts * nBurst
    if (finalVersion + 1 != all.length)
      res.miss(s"${finalVersion + 1} sink versions for ${all.length} " +
        "non-empty micro-batches")
    val progress = all.drop(primeBatches)
    val cum = progress.map(_.numInputRows).scanLeft(0L)(_ + _).tail
    val vis = seen.toIndexedSeq.filter(_._1 > primeVersion)
    val firstVersion = primeVersion + 1
    /** When the rows of the first `files` files were first visible. */
    def visibleAt(files: Long): Option[Long] = {
      val k = cum.indexWhere(_ >= files * rowsPerFile)
      if (k < 0) None else vis.find(_._1 >= firstVersion + k).map(_._2)
    }
    for (i <- 0 until nFixed) visibleAt(i + 1L) match {
      case Some(t) => res.add("freshness_ms", (t - sched(i)) / 1e6)
      case None => res.miss(s"file $i never became visible")
    }
    for (b <- 0 until Bursts) visibleAt(burst(b).end.toLong) match {
      case Some(t) => res.add("drain_rows_per_s",
        nBurst * rowsPerFile / ((t - sched(burst(b).start)) / 1e9))
      case None => res.miss(s"burst $b never became visible")
    }
    progress.zip(cum).filter(_._2 <= nFixed * rowsPerFile).foreach(pc =>
      res.add("trigger_ms",
        pc._1.durationMs.get("triggerExecution").toDouble))
    res.values("generator_late_ms_max") = late.take(nFixed).max
    res.values("backlog_files_max") = (0 until nFixed).map { i =>
      val consumed = vis.takeWhile(_._2 <= sched(i) + late(i) * 1000000L)
        .lastOption.map(v => cum(v._1 - firstVersion) / rowsPerFile)
        .getOrElse(0L)
      i + 1 - consumed
    }.max
    res.values("batches") = progress.length

    // the sink must hold exactly groupBy(user_id).count over every file
    val expected = spark.read.schema(schema).parquet(src.getPath)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Versioned.read(spark, table).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_events")).toMap
    val checked = if (args.corrupt) got - got.keys.head else got
    if (checked != expected)
      res.miss(s"sink table has ${checked.size} users, expected " +
        s"${expected.size}; ${(expected.toSet diff checked.toSet).size} " +
        "rows differ")
  }
}
