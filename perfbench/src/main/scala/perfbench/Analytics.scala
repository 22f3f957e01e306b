package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `analytics`: one closed-loop client making repeated passes over a
  * fixed read-only mix of `SparkEntry.queries`, each pass in a
  * seed-shuffled order. Every result is forced through a full-column
  * fingerprint (a bare `count()` would let Catalyst prune columns).
  *
  * Set-up makes two untimed passes. The first (JIT-cold) dumps every
  * result as parquet for the DuckDB oracle compare run by `run.py`, and
  * its fingerprints become the reference each later pass must
  * reproduce.
  */
object Analytics {
  /** The mix: relational core, similarity/dedup/text, ops. Eleven
    * queries keep a warm pass near 5 s on 4 CPUs, so set-up (two passes,
    * the first JIT-cold) and several timed passes fit one run. */
  val Mix: Seq[String] = Seq(
    "q01", "q06", "q12", "q16", "q18",
    "q129", "q24", "q26", "q27",
    "q40", "q41")

  private val families: Seq[(String, Set[String])] = Seq(
    "core" -> graft.queries.CoreQueries.all.keySet,
    "ext" -> graft.queries.ExtQueries.all.keySet,
    "prep" -> graft.queries.PrepQueries.all.keySet,
    "scale" -> graft.queries.ScaleQueries.all.keySet,
    "graph" -> graft.queries.GraphQueries.all.keySet)

  def family(name: String): String =
    families.collectFirst { case (f, ks) if ks(name) => f }.getOrElse("other")

  def run(spark: SparkSession, args: Main.Args, res: Main.Result): Unit = {
    val names = Mix.map(id => SparkEntry.queries.keys
      .find(_.startsWith(id + "_"))
      .getOrElse(throw new IllegalStateException(s"no query $id")))
    val data = s"${args.inputs}/corpus"
    val dump = s"${args.inputs}/dump"
    val rng = new Random(args.seed)
    val expected = scala.collection.mutable.Map[String, String]()
    res.values("families") = names.map(n => n.takeWhile(_ != '_') ->
      family(n)).toMap

    /** One pass; returns its wall seconds. */
    def pass(setup: Boolean, dumpResults: Boolean): Double = {
      val t0 = System.nanoTime()
      rng.shuffle(names).foreach { name =>
        val id = name.takeWhile(_ != '_')
        val q0 = System.nanoTime()
        res.attempted += 1
        try {
          val fp = Trace.span(spark, s"queries.$id") {
            val df = SparkEntry.queries(name)(spark, data)
            if (dumpResults) {
              // the dump encoding the oracle compare expects (as Verify)
              spark.conf.set("spark.sql.parquet.outputTimestampType",
                "INT96")
              df.coalesce(1).write.mode("overwrite").parquet(s"$dump/$name")
            }
            Main.fingerprint(df)
          }
          val got = if (args.corrupt && !setup) fp + "x" else fp
          expected.get(name) match {
            case None => expected(name) = got
            case Some(e) if e != got =>
              res.miss(s"$id fingerprint $got != first pass $e")
            case _ =>
          }
          if (!setup) res.add(s"query_ms.$id", Main.ms(q0))
        } catch {
          case e: Exception =>
            res.miss(s"$id failed: ${e.getClass.getSimpleName}: " +
              e.getMessage)
        }
      }
      (System.nanoTime() - t0) / 1e9
    }

    for (i <- 0 until 2) res.setup += pass(setup = true, dumpResults = i == 0)
    val oracle = names.map(n => Json.str(n) + ":" +
      Json.str(SparkEntry.oracleSql(n))).mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dump, "oracle_sql.json"), oracle)

    // at least two timed passes; another only if it fits the time left
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    Main.phase("measure") {
      var passes = 0
      var last = 0.0
      while (passes < 2 ||
          System.nanoTime() + (last * 1e9).toLong <= deadline) {
        last = pass(setup = false, dumpResults = false)
        res.add("pass_s", last)
        passes += 1
      }
    }
    res.values("heap_retained_mb") = Main.heapRetainedMb()
  }
}
