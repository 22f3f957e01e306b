package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run of one workload, driven through graft's public
  * entry points. `perfbench/run.py` generates the inputs, launches this
  * JVM, checks what it reports and prints the metrics.
  *
  * Usage: perfbench.Main --workload <analytics|lake_rw|stream_upsert>
  *   --seed <n> --seconds <s> --trace <0|1> --inputs <dir> --work <dir>
  *   [--corrupt 1]
  *
  * Writes `<work>/result.json` (raw samples, correctness, set-up times)
  * and, when tracing, one JSON-lines file per record kind under
  * `<work>/trace`. `--corrupt 1` alters one checked output after the
  * program produced it, so the checks can be shown to catch a wrong
  * answer.
  */
object Main {
  final class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload: String = apply("workload")
    val seed: Long = apply("seed").toLong
    val seconds: Double = apply("seconds").toDouble
    val trace: Boolean = apply("trace") == "1"
    val inputs: String = apply("inputs")
    val work: String = apply("work")
    val corrupt: Boolean = m.get("corrupt").contains("1")
  }

  /** What a workload hands back: raw samples by name, set-up times, op
    * counts and any correctness misses (each one counts as failed). */
  final class Result {
    val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val values = mutable.LinkedHashMap[String, Any]()
    val setup = mutable.ArrayBuffer[Double]()
    val misses = mutable.ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L
    def add(name: String, v: Double): Unit = synchronized {
      samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
    }
    def miss(what: String): Unit = synchronized {
      misses += what; failed += 1
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = new Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    val cpus = Runtime.getRuntime.availableProcessors().toString
    var b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.local.dir", s"${args.work}/local")
    if (args.workload == "lake_rw")
      b = b.withExtensions(new graft.GraftExtensions)
        .config("spark.sql.catalog.graft",
          classOf[graft.sql.GraftCatalog].getName)
        .config("spark.sql.catalog.graft.warehouse", s"${args.work}/lake")
    if (args.trace)
      b = b.config("spark.hadoop.fs.file.impl",
        classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.trace) {
      Trace.install(spark)
      val fs = new org.apache.hadoop.fs.Path(args.work)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingFileSystem],
        s"file: resolved to ${fs.getClass.getName}, not the counting FS")
    }
    val res = new Result
    val t0 = System.nanoTime()
    var code = 0
    try {
      args.workload match {
        case "analytics" => Analytics.run(spark, args, res)
        case "lake_rw" => LakeRw.run(spark, args, res)
        case "stream_upsert" => StreamUpsert.run(spark, args, res)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.miss(s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
        code = 1
    }
    val out = Json.obj(
      "workload" -> args.workload, "seed" -> args.seed,
      "wall_s" -> (System.nanoTime() - t0) / 1e9,
      "attempted" -> res.attempted, "failed" -> res.failed,
      "misses" -> res.misses.take(20), "setup_s" -> res.setup,
      "samples" -> res.samples, "values" -> res.values)
    Files.writeString(Paths.get(args.work, "result.json"), out)
    if (args.trace) Trace.dump(s"${args.work}/trace")
    spark.stop()
    sys.exit(code)
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Used heap after forced full collections, in MiB. The pauses let
    * Spark's context cleaner drop what the first collection freed. */
  def heapRetainedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(150)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Marks the measured phase in the trace, with `file:` byte totals
    * and both clocks (spans use nanoTime, Spark events epoch millis). */
  def phase[A](name: String)(f: => A): A = {
    val (r0, w0) = CountingFileSystem.bytes()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    CountingFileSystem.phase = name
    try f
    finally {
      CountingFileSystem.phase = "after"
      val (r1, w1) = CountingFileSystem.bytes()
      Trace.event(Json.obj("type" -> "phase", "name" -> name, "t0" -> t0,
        "t1" -> System.nanoTime(), "ms0" -> ms0,
        "bytes_read" -> (r1 - r0), "bytes_written" -> (w1 - w0)))
    }
  }

  /** A backquoted column reference that survives dots and spaces. */
  def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Full-column, order-insensitive fingerprint: row count plus the two
    * 32-bit halves of the summed per-row xxhash64 over every column, so
    * no output column can be pruned away. */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(quoted).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0 else r.getLong(1)}:" +
      s"${if (r.isNullAt(2)) 0 else r.getLong(2)}"
  }
}
