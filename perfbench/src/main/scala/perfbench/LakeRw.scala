package perfbench

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.io.Source

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.Versioned
import graft.queries.Q

/** `lake_rw`: one writer and one reader, both closed-loop, on one
  * versioned `orders` table.
  *
  * Set-up commits the start table (range-clustered, with `o_orderkey`
  * min/max stats and bloom filters) three times into fresh directories;
  * the last one is the table the run uses. The writer then executes the
  * seeded op log in order — appends, merges into hot key ranges,
  * copy-on-write and merge-on-read deletes and updates, and periodic
  * compaction, manifest checkpoint and expiry, a seeded share of them as
  * SQL on the `graft` catalog — while the reader cycles through point,
  * range, full and time-travel reads. Every read pins the version it
  * read and records a fingerprint of its rows, so `run.py` can check it
  * against a replay of the same op log.
  */
object LakeRw {
  val Table = "db.orders"
  val KeepLast = 12

  /** Aggregates over every column, reproducible outside Spark: rows,
    * key and customer sums, price in cents, order day offsets and a
    * CRC of the two string columns. */
  def fingerprint(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), sum("o_orderkey"), sum("o_custkey"),
      sum(round(col("o_totalprice") * 100).cast("long")),
      sum(datediff(to_date(col("o_orderdate")), lit("1995-01-01"))),
      sum(crc32(concat_ws("|", col("o_orderstatus"),
        col("o_orderpriority")).cast("binary")))).head()
    (0 until 6).map(i => if (r.isNullAt(i)) 0L else r.getAs[Number](i)
      .longValue)
  }

  private def lines(path: String): IndexedSeq[JsonNode] = {
    val m = new ObjectMapper()
    val src = Source.fromFile(path)
    try src.getLines().filter(_.nonEmpty).map(l => m.readTree(l)).toIndexedSeq
    finally src.close()
  }

  def run(spark: SparkSession, args: Main.Args, res: Main.Result): Unit = {
    val in = s"${args.inputs}/lake"
    val lake = s"${args.work}/lake/db"
    val dir = s"$lake/orders"
    val ops = lines(s"$in/ops.jsonl")
    val reads = lines(s"$in/reads.jsonl")

    for (i <- 0 until 3) {
      val t0 = System.nanoTime()
      val d = if (i == 2) dir else s"$lake/setup$i"
      Trace.span(spark, "lake.create") {
        val start = Q.t(spark, in, "orders")
          .repartitionByRange(8, col("o_orderkey"))
        Versioned.commitWithIndex(spark, d, start, Seq("o_orderkey"),
          Seq("o_orderkey"), bloomExpectedItems = 20000L)
        Versioned.setPolicy(spark, d, statCols = Some(Seq("o_orderkey")),
          bloomCfg = Some(Seq(("o_orderkey", 20000L, 0.03))))
      }
      res.setup += (System.nanoTime() - t0) / 1e9
    }
    val startVersion = Versioned.latestVersion(spark, dir).get
    res.values("start_version") = startVersion

    val stop = new AtomicBoolean(false)
    val writes = mutable.ArrayBuffer[String]()
    val readLog = mutable.ArrayBuffer[String]()

    def write(op: JsonNode, dir: String, table: String): Unit = {
      val kind = op.get("kind").asText
      val viaSql = op.get("sql").asBoolean
      def range = col("o_orderkey").between(op.get("lo").asLong,
        op.get("hi").asLong)
      def between = s"o_orderkey BETWEEN ${op.get("lo").asLong} AND " +
        op.get("hi").asLong
      def batch = Q.t(spark, in + "/batches",
        op.get("batch").asText.stripPrefix("batches/").stripSuffix(".parquet"))
      val bump = Map("o_totalprice" -> (col("o_totalprice") + 1.0),
        "o_orderstatus" -> lit("U"))
      val layer = if (viaSql) "sql" else "lake"
      Trace.span(spark, s"$layer.$kind") {
        (kind, viaSql) match {
          case ("append", _) => Versioned.commit(spark, dir, batch)
          case ("merge", false) =>
            Versioned.mergeInto(spark, dir, batch, Seq("o_orderkey"))
          case ("merge", true) =>
            batch.createOrReplaceTempView("perfbench_src")
            spark.sql(s"""MERGE INTO graft.$table AS t
                         |USING perfbench_src AS s
                         |ON t.o_orderkey = s.o_orderkey
                         |WHEN MATCHED THEN UPDATE SET *
                         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          case ("delete", false) => Versioned.deleteWhere(spark, dir, range)
          case ("delete", true) =>
            spark.sql(s"DELETE FROM graft.$table WHERE $between")
          case ("update", false) =>
            Versioned.updateWhere(spark, dir, range, bump)
          case ("update", true) =>
            spark.sql(s"UPDATE graft.$table SET o_totalprice = " +
              s"o_totalprice + 1.0, o_orderstatus = 'U' WHERE $between")
          case ("delete_mor", _) => Versioned.deleteWhereMor(spark, dir, range)
          case ("update_mor", _) =>
            Versioned.updateWhereMor(spark, dir, range, bump)
          case ("compact", false) =>
            Versioned.compactSubset(spark, dir,
              smallFileBytes = Some(64L << 10), dvDebtAbove = Some(0.05),
              maxFiles = Some(16))
          case ("compact", true) =>
            spark.sql(s"CALL graft.system.compact('$table')").collect()
          case ("checkpoint", false) => Versioned.checkpointManifest(spark, dir)
          case ("checkpoint", true) =>
            spark.sql(s"CALL graft.system.checkpoint('$table')").collect()
          case ("expire", false) =>
            Versioned.expire(spark, dir, keepLast = KeepLast)
          case ("expire", true) =>
            spark.sql(s"CALL graft.system.expire('$table', $KeepLast)")
              .collect()
          case other => throw new IllegalArgumentException(s"op $other")
        }
      }
    }

    /** One read at a pinned version; returns its latency and log line. */
    def read(rd: JsonNode, dir: String): (Double, String) = {
      val kind = rd.get("kind").asText
      val key = rd.get("key").asLong
      val head = Versioned.latestVersion(spark, dir).get
      val v = if (kind == "time_travel")
        math.max(startVersion, head - rd.get("back").asInt) else head
      val hi = key + rd.get("width").asLong
      val t0 = System.nanoTime()
      val name = if (kind == "time_travel") "lake.time_travel"
        else s"lake.read_$kind"
      val df = Trace.span(spark, name) {
        val df = kind match {
          case "eq" => Versioned.readEq(spark, dir,
            col("o_orderkey") === key, Some(v))
          case "pruned" => Versioned.readPruned(spark, dir, "o_orderkey",
            key, hi, Some(v))
          case _ => Versioned.read(spark, dir, Some(v))
        }
        (df, fingerprint(df))
      }
      val took = Main.ms(t0)
      val extra = if (Trace.enabled && kind == "pruned")
        Seq("files_scanned" -> df._1.inputFiles.length,
          "files_live" -> Versioned.manifestDataLines(spark, dir, v).size)
      else Nil
      took -> Json.obj(Seq("kind" -> kind, "key" -> key, "hi" -> hi,
        "version" -> v, "ms" -> took, "fp" -> df._2) ++ extra: _*)
    }

    // warm-up: every op kind (API and SQL) and every read kind once, on a
    // set-up table, so the timed phase does not measure first calls
    val warm0 = System.nanoTime()
    lines(s"$in/warmup.jsonl").foreach(op =>
      write(op, s"$lake/setup1", "db.setup1"))
    reads.take(8).foreach(rd => read(rd, s"$lake/setup1"))
    res.values("warmup_s") = (System.nanoTime() - warm0) / 1e9

    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    val reader = new Thread(() => {
      var i = 0
      while (!stop.get()) {
        val rd = reads(i % reads.size)
        i += 1
        res.synchronized(res.attempted += 1)
        try {
          val (took, l) = read(rd, dir)
          res.add("read_ms", took)
          readLog.synchronized(readLog += l)
        }
        catch {
          case e: Exception =>
            res.miss(s"read ${rd.get("kind").asText} failed: ${e.getMessage}")
        }
      }
    }, "perfbench-reader")

    Main.phase("measure") {
      reader.start()
      var i = 0
      try {
        while (System.nanoTime() < deadline && i < ops.size) {
          val op = ops(i)
          val before = Versioned.latestVersion(spark, dir).get
          val t0 = System.nanoTime()
          res.synchronized(res.attempted += 1)
          val ok = try { write(op, dir, Table); true } catch {
            case e: Exception =>
              res.miss(s"write ${op.get("kind").asText} #$i failed: " +
                e.getMessage)
              false
          }
          val took = Main.ms(t0)
          val after = Versioned.latestVersion(spark, dir).get
          res.add("write_ms", took)
          res.add(s"write_ms.${op.get("kind").asText}", took)
          writes += Json.obj("i" -> i, "kind" -> op.get("kind").asText,
            "sql" -> op.get("sql").asBoolean, "ms" -> took, "ok" -> ok,
            "before" -> before, "version" -> after)
          i += 1
        }
      } finally {
        stop.set(true)
        reader.join()
      }
      res.values("measured_s") = (System.nanoTime() - deadline) / 1e9 +
        args.seconds
    }
    res.values("heap_retained_mb") = Main.heapRetainedMb()

    val head = Versioned.latestVersion(spark, dir).get
    val fin = fingerprint(Versioned.read(spark, dir, Some(head)))
    res.values("final") = Json.Raw(Json.obj("version" -> head,
      "fp" -> (if (args.corrupt) fin.updated(0, fin.head + 1) else fin)))
    res.values("live_files_end") =
      Versioned.manifestDataLines(spark, dir, head).size
    res.values("writes") = writes.map(Json.Raw)
    res.values("reads") = readLog.map(Json.Raw)
  }
}
