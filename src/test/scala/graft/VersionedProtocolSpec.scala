package graft

import org.apache.spark.sql.functions.col

import graft.lake.Versioned

/** The manifest PROTOCOL gate (`#minreader` + `#feature` — Delta's
  * minReaderVersion/reader-features shape on this substrate). Unknown
  * header ANNOTATIONS parse forward-compatibly; semantics-bearing
  * FEATURES must not: an older or third-party reader that skipped a
  * `#dv` pointer would resurrect deleted rows, one that skipped
  * `#colmap`/`#coldrop` would misbind columns. So a version whose
  * state uses such a feature names it in the header, and every parse
  * refuses unknown names loudly — on read AND on commit (commits read
  * the parent state). The gate is PER VERSION and derived from state:
  * tables that use no gated feature carry no gate lines and stay
  * byte-compatible with every older reader.
  */
class VersionedProtocolSpec extends SparkSuite {
  import spark.implicits._

  private def manifestLines(dir: String, v: Int): Seq[String] = {
    val p = java.nio.file.Paths.get(dir, "_manifest", f"v$v%05d.txt")
    val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
    try src.getLines().filter(_.nonEmpty).toList
    finally src.close()
  }
  private def writeManifest(dir: String, v: Int,
      lines: Seq[String]): Unit = {
    val p = java.nio.file.Paths.get(dir, "_manifest", f"v$v%05d.txt")
    java.nio.file.Files.write(p,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }

  test("a plain table carries NO gate lines — old readers stay " +
      "byte-compatible until a gated feature is actually used") {
    val dir = tmpDir() + "/plain"
    Versioned.commit(spark, dir,
      (0L until 8L).map(i => (i, s"r$i")).toDF("id", "s"))
    Versioned.commit(spark, dir, Seq((8L, "r8")).toDF("id", "s"))
    for (v <- 0 to 1) {
      val ls = manifestLines(dir, v)
      assert(!ls.exists(_.startsWith("#minreader\t")), ls)
      assert(!ls.exists(_.startsWith("#feature\t")), ls)
    }
  }

  test("a merge-on-read DELETE gates its versions on " +
      "deletion-vectors; this engine reads them fine, and the gate " +
      "follows the STATE (a CoW rewrite that materializes the DVs " +
      "away lifts it)") {
    val dir = tmpDir() + "/dv"
    Versioned.commit(spark, dir,
      (0L until 20L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(2, col("id")))
    Versioned.deleteWhereMor(spark, dir, col("id") === 3L)       // v1
    val v1 = manifestLines(dir, 1)
    assert(v1.contains("#minreader\t2"), v1)
    assert(v1.contains("#feature\tdeletion-vectors"), v1)
    assert(Versioned.read(spark, dir).count() == 19)
    // materialize the DVs away: the state no longer requires the
    // feature, so the gate lifts — per-version, not sticky
    Versioned.compactCommit(spark, dir)                          // v2
    val v2 = manifestLines(dir, 2)
    assert(!v2.exists(_.startsWith("#feature\t")), v2)
    assert(Versioned.read(spark, dir).count() == 19)
    // time travel to the gated version still reads (this engine
    // implements the feature); v0 predates it and carries no gate
    assert(Versioned.read(spark, dir, Some(1)).count() == 19)
    assert(!manifestLines(dir, 0).exists(_.startsWith("#feature\t")))
  }

  test("RENAME COLUMN gates on column-mapping") {
    val dir = tmpDir() + "/map"
    Versioned.commit(spark, dir,
      (0L until 5L).map(i => (i, s"r$i")).toDF("id", "s"))
    Versioned.renameColumn(spark, dir, "s", "label")             // v1
    val ls = manifestLines(dir, 1)
    assert(ls.contains("#minreader\t2"), ls)
    assert(ls.contains("#feature\tcolumn-mapping"), ls)
    assert(Versioned.read(spark, dir).columns.toSeq ==
      Seq("id", "label"))
  }

  test("WRITER features gate commits but not reads: a CHECKed table " +
      "names check-constraints, dropping the CHECK lifts it, and a " +
      "future writer feature refuses the COMMIT by name while the " +
      "table stays readable") {
    val dir = tmpDir() + "/writer"
    Versioned.commit(spark, dir,
      (0L until 5L).map(i => (i, s"r$i")).toDF("id", "s"))
    // reading a checked table is safe for ANY binary; writing one
    // without validating is not — the contract names itself
    Versioned.addCheck(spark, dir, "id_pos", "id >= 0")          // v1
    val v1 = manifestLines(dir, 1)
    assert(v1.contains("#minwriter\t2"), v1)
    assert(v1.contains("#writerfeature\tcheck-constraints"), v1)
    assert(!v1.exists(_.startsWith("#minreader\t")),
      "CHECKs must not gate READERS — reading a checked table is safe")
    assert(Versioned.read(spark, dir).count() == 5)
    // per-version derivation: dropping the last CHECK lifts the gate
    Versioned.dropCheck(spark, dir, "id_pos")                    // v2
    assert(!manifestLines(dir, 2)
      .exists(_.startsWith("#writerfeature\t")), manifestLines(dir, 2))
    // clustering and the retention horizon are named write contracts
    Versioned.setPolicy(spark, dir,
      clusterBy = Some(Seq("id")),
      txnRetention = Some(Some(3600000L)))                       // v3
    val v3 = manifestLines(dir, 3)
    assert(v3.contains("#writerfeature\tcluster-by") &&
      v3.contains("#writerfeature\ttxn-retention"), v3)
    // a FUTURE writer feature: reads stay open, commits refuse by name
    val head = Versioned.latestVersion(spark, dir).get
    val orig = manifestLines(dir, head)
    writeManifest(dir, head,
      Seq("#minwriter\t9", "#writerfeature\tatomic-swap") ++
        orig.filterNot(l => l.startsWith("#minwriter\t") ||
          l.startsWith("#writerfeature\t")))
    assert(Versioned.read(spark, dir).count() == 5,
      "a writer gate must never fence READS")
    val e = intercept[Exception] {
      Versioned.commit(spark, dir, Seq((9L, "x")).toDF("id", "s"))
    }
    assert(e.getMessage.contains("atomic-swap") &&
      e.getMessage.contains("COMMIT"), e.getMessage)
    assert(Versioned.latestVersion(spark, dir).contains(head),
      "the refused commit must publish nothing")
    // maintenance stays open on the fenced table — and a checkpoint
    // SIDECAR must PRESERVE the declared gate (readRaw prefers a
    // valid sidecar; one that re-derived the gate from known state
    // would silently erase the commit fence)
    if (Versioned.checkpointManifest(spark, dir)) {
      val e2 = intercept[Exception] {
        Versioned.commit(spark, dir, Seq((9L, "x")).toDF("id", "s"))
      }
      assert(e2.getMessage.contains("atomic-swap"),
        "the checkpoint sidecar erased the foreign writer gate: " +
          e2.getMessage)
    }
  }

  test("a FUTURE feature refuses BY NAME on read and on commit; a " +
      "future reader-version floor refuses by number") {
    val dir = tmpDir() + "/future"
    Versioned.commit(spark, dir,
      (0L until 5L).map(i => (i, s"r$i")).toDF("id", "s"))
    val orig = manifestLines(dir, 0)
    // hand-stamp a feature from the future, as a newer writer would
    writeManifest(dir, 0,
      Seq("#minreader\t3", "#feature\ttime-crystals") ++ orig)
    val eRead = intercept[Exception] {
      Versioned.read(spark, dir).count()
    }
    assert(eRead.getMessage.contains("time-crystals"), eRead.getMessage)
    // a commit reads the parent state — it must refuse too, not
    // silently publish a head that drops the unknown feature
    val eCommit = intercept[Exception] {
      Versioned.commit(spark, dir, Seq((9L, "x")).toDF("id", "s"))
    }
    assert(eCommit.getMessage.contains("time-crystals"),
      eCommit.getMessage)
    // version floor alone (no feature names — a format bump)
    writeManifest(dir, 0, Seq("#minreader\t9") ++ orig)
    val eVer = intercept[Exception] {
      Versioned.read(spark, dir).count()
    }
    assert(eVer.getMessage.contains("version 9") &&
      eVer.getMessage.contains("2"), eVer.getMessage)
    // restored, the table reads again — the gate was the only block
    writeManifest(dir, 0, orig)
    assert(Versioned.read(spark, dir).count() == 5)
  }

  test("a PRE-FLOOR manifest refuses BY NAME on every entry point: " +
      "read, history, TIMESTAMP AS OF, the startingTimestamp anchor, " +
      "and a commit") {
    def path(dir: String, name: String) =
      java.nio.file.Paths.get(dir, "_manifest", name)
    // rewrite one manifest file in place (and drop the local-FS
    // checksum sidecar the raw rewrite would otherwise invalidate)
    def edit(dir: String, name: String)(f: Seq[String] => Seq[String])
        : Unit = {
      val p = path(dir, name)
      val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
      val ls = try src.getLines().filter(_.nonEmpty).toList
        finally src.close()
      val out = f(ls)
      assert(out != ls, s"fixture edit of $name changed nothing")
      java.nio.file.Files.write(p,
        out.mkString("", "\n", "\n").getBytes("UTF-8"))
      java.nio.file.Files.deleteIfExists(path(dir, s".$name.crc"))
      ()
    }
    def table(dir: String): Unit =
      Versioned.commit(spark, dir, (0L until 6L).map(i => (i, s"r$i"))
        .toDF("id", "s").repartitionByRange(2, col("id")))
    def stripHeader(h: String)(dir: String): Unit = {
      table(dir)
      edit(dir, "v00000.txt")(_.filterNot(_.startsWith(h)))
    }
    val noSize = "\t~b\\d+"
    // (case, floor field the refusal must name, fixture)
    val cases: Seq[(String, String, String => Unit)] = Seq(
      ("#ts", "#ts", stripHeader("#ts\t")),
      ("#schema", "#schema", stripHeader("#schema\t")),
      ("#txnseal", "#txnseal", stripHeader("#txnseal\t")),
      ("data line ~b", "~b size on data line", { dir =>
        table(dir)
        edit(dir, "v00000.txt")(_.map(l =>
          if (l.startsWith("#")) l else l.replaceAll(noSize, "")))
      }),
      ("#dv line ~b", "~b size on a #dv line", { dir =>
        table(dir)
        Versioned.deleteWhereMor(spark, dir, col("id") === 1L)   // v1
        edit(dir, "v00001.txt")(_.map(l =>
          if (l.startsWith("#dv\t")) l.replaceAll(noSize, "") else l))
      }),
      ("sidecar #eof over a dropped chain", "#eof", { dir =>
        table(dir)
        Versioned.commit(spark, dir, Seq((9L, "r9")).toDF("id", "s"))
        assert(Versioned.checkpointManifest(spark, dir),
          "fixture wants a delta head to fold")                  // v1
        edit(dir, "v00001.ckpt.txt")(_.filterNot(_.startsWith("#eof\t")))
        java.nio.file.Files.delete(path(dir, "v00000.txt"))
        java.nio.file.Files.deleteIfExists(path(dir, ".v00000.txt.crc"))
        ()
      }))
    val farFuture = (System.currentTimeMillis() + 3600000L) * 1000L
    cases.foreach { case (name, field, fixture) =>
      val dir = tmpDir() + "/floor"
      fixture(dir)
      val head = Versioned.latestVersion(spark, dir)
      val entryPoints: Seq[(String, () => Any)] = Seq(
        "read" -> (() => Versioned.read(spark, dir).count()),
        "history" -> (() => Versioned.history(spark, dir).collect()),
        "TIMESTAMP AS OF" -> (() => Versioned.read(spark, dir,
          Some(Versioned.versionAsOfTimestamp(spark, dir, farFuture).get))
          .count()),
        "startingTimestamp" -> (() => spark.readStream
          .format("graft-changes").option("path", dir)
          .option("startingTimestamp", "0").load()),
        "commit" -> (() => Versioned.commit(spark, dir,
          Seq((7L, "x")).toDF("id", "s"))))
      entryPoints.foreach { case (entry, run) =>
        val e = intercept[Exception](run())
        val named = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).collectFirst {
            case u: Versioned.UnsupportedTableFeatureException => u }
        assert(named.exists(u => u.getMessage.contains(field) &&
            u.getMessage.contains("format floor")),
          s"$name / $entry: expected the named floor refusal naming " +
            s"'$field', got $e")
      }
      assert(Versioned.latestVersion(spark, dir) == head,
        s"$name: the refused commit must publish nothing")
    }
  }
}
