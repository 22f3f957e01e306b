package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField}

import graft.lake.Versioned

/** The manifest CODEC pin: a table driven through every header-bearing
  * verb must render the same canonical snapshot whether its state is
  * folded from the delta chain or read back from the checkpoint sidecar
  * [[Versioned.checkpointManifest]] installs. Every header the writers
  * emit round-trips through parse -> fold -> render -> sidecar -> parse
  * unchanged, so a parser refactor that drops or reorders a field fails
  * here first.
  */
class VersionedCodecSpec extends SparkSuite {
  import spark.implicits._

  test("every header-bearing verb round-trips: the chain-folded " +
      "snapshot equals the checkpoint sidecar's, at every version") {
    val dir = tmpDir() + "/codec"
    val folded = scala.collection.mutable.Map.empty[Int, Seq[String]]
    def pin(v: Int): Unit = {
      assert(Versioned.latestVersion(spark, dir).contains(v))
      val chain = Versioned.manifestSnapshot(spark, dir, v)
      Versioned.checkpointManifest(spark, dir)
      val sidecar = Versioned.manifestSnapshot(spark, dir, v)
      assert(sidecar == chain, s"v$v: sidecar differs from the chain fold")
      folded(v) = chain
    }
    val rows = (0L until 40L).map(i => (i, i % 7, s"s$i", s"t$i"))
      .toDF("id", "k", "s", "t").repartitionByRange(4, col("id"))
    pin(Versioned.commitWithIndex(spark, dir, rows,
      statCols = Seq("id", "k"), bloomCols = Seq("s")))
    pin(Versioned.commitWithIndex(spark, dir,
      Seq((40L, 5L, "s40", "t40")).toDF("id", "k", "s", "t"),
      statCols = Seq("id"), bloomCols = Seq("s")))
    pin(Versioned.deleteWhereMor(spark, dir, col("id") === 3L))
    pin(Versioned.renameColumn(spark, dir, "k", "bucket"))
    pin(Versioned.dropColumn(spark, dir, "t"))
    pin(Versioned.addCheck(spark, dir, "id_pos", "id >= 0"))
    pin(Versioned.setPolicy(spark, dir,
      manifestCheckpointEvery = Some(Some(20))))
    pin(Versioned.setPolicy(spark, dir, clusterBy = Some(Seq("id"))))
    pin(Versioned.setPolicy(spark, dir,
      txnRetention = Some(Some(86400000L))))
    pin(Versioned.setPolicy(spark, dir,
      maintainSet = Seq("smallfile.bytes" -> "1024")))
    pin(Versioned.idempotentCommit(spark, dir,
      Seq((41L, 6L, "s41")).toDF("id", "bucket", "s"),
      appId = "codec-app", batchId = 7L).get)
    pin(Versioned.addColumns(spark, dir,
      Seq(StructField("extra", LongType, nullable = true))))
    assert(Versioned.read(spark, dir).count() == 41)
    // every version, re-read with all sidecars installed, still renders
    // what its chain folded to
    folded.foreach { case (v, chain) =>
      assert(Versioned.manifestSnapshot(spark, dir, v) == chain, s"v$v")
    }
  }
}
