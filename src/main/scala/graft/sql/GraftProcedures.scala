package graft.sql

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, StringType, StructField, StructType}

import graft.lake.Versioned

/** The lake's SQL maintenance surface: `CALL graft.system.<proc>(…)`
  * through Spark 4's V2 `ProcedureCatalog` hook — the statement form
  * every production table format gives its table-maintenance verbs
  * (Iceberg's `CALL catalog.system.…` is the public precedent). Each
  * procedure is a thin argument adapter over the SAME
  * [[graft.lake.Versioned]] operator the Scala API calls; results
  * come back as rows via `LocalScan` (Spark turns them into a
  * `LocalRelation`), which is the right channel because every result
  * here is manifest-sized — version numbers, audit rows, per-file
  * debt fractions — never data-sized. The one delta-sized product,
  * the row-level change feed, deliberately is NOT a procedure: it
  * stays a distributed plan behind the `graft_table_changes`
  * table-valued function ([[graft.GraftExtensions]]).
  *
  *  - `history(table)`        → [[Versioned.history]] rows
  *  - `restore(table, v)`     → [[Versioned.restore]]; returns new head
  *  - `expire(table, keep)`   → [[Versioned.expire]]; manifests + files removed
  *  - `compact(table)`        → [[Versioned.compactCommit]]; returns new head
  *  - `dv_debt(table)`        → [[Versioned.dvDebt]] per-file fractions
  *
  * `table` is `'db.t'` relative to the catalog the CALL names —
  * the same resolution [[GraftCatalog]] applies to table identifiers.
  */
object GraftProcedures {

  def names: Seq[String] =
    Seq("history", "restore", "expire", "compact", "dv_debt", "pin",
      "unpin", "set_policy", "checkpoint", "txn_version", "detail",
      "file_debt", "maintain", "tag", "untag", "tags")

  def load(catalog: GraftCatalog, name: String): Option[UnboundProcedure] =
    name.toLowerCase(java.util.Locale.ROOT) match {
      case "history" => Some(HistoryProcedure(catalog))
      case "restore" => Some(RestoreProcedure(catalog))
      case "expire" => Some(ExpireProcedure(catalog))
      case "compact" => Some(CompactProcedure(catalog))
      case "dv_debt" => Some(DvDebtProcedure(catalog))
      case "pin" => Some(PinProcedure(catalog))
      case "unpin" => Some(UnpinProcedure(catalog))
      case "set_policy" => Some(SetPolicyProcedure(catalog))
      case "checkpoint" => Some(CheckpointProcedure(catalog))
      case "txn_version" => Some(TxnVersionProcedure(catalog))
      case "detail" => Some(DetailProcedure(catalog))
      case "file_debt" => Some(FileDebtProcedure(catalog))
      case "maintain" => Some(MaintainProcedure(catalog))
      case "tag" => Some(TagProcedure(catalog))
      case "untag" => Some(UntagProcedure(catalog))
      case "tags" => Some(TagsProcedure(catalog))
      case _ => None
    }
}

/** One-scan `LocalScan` result — [[BoundProcedure.call]]'s return
  * channel for driver-computed (manifest-sized) rows. */
final case class GraftResultScan(schema: StructType,
    resultRows: Array[InternalRow]) extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = resultRows
}

/** Shared scaffolding: every graft procedure binds to itself (the
  * parameter list is fixed; Spark's coercion aligns the arguments)
  * and resolves its `table` argument against the owning catalog. */
sealed abstract class GraftProcedure(catalog: GraftCatalog)
  extends UnboundProcedure with BoundProcedure {

  override def bind(inputType: StructType): BoundProcedure = this
  // maintenance verbs mutate table state; never cache/reuse results
  override def isDeterministic: Boolean = false

  protected def session: SparkSession = SparkSession.active

  protected def param(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  /** `'db.t'` (relative to this catalog) → the table directory. */
  protected def dirOf(table: String): String = {
    val parts = table.split('.')
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"bad table name '$table': expected 'db.t' relative to " +
        s"catalog ${catalog.name()}")
    val ident = Identifier.of(parts.init, parts.last)
    require(catalog.tableExists(ident),
      s"table '$table' not found in catalog ${catalog.name()}")
    catalog.tableDir(ident)
  }

  protected def result(df: DataFrame): util.Iterator[Scan] = {
    val conv = CatalystTypeConverters.createToCatalystConverter(df.schema)
    val rows = df.collect().map(r => conv(r).asInstanceOf[InternalRow])
    util.Collections.singletonList[Scan](GraftResultScan(df.schema, rows))
      .iterator()
  }

  protected def result(schema: StructType,
      values: Array[Any]): util.Iterator[Scan] =
    util.Collections.singletonList[Scan](GraftResultScan(schema,
      Array[InternalRow](new GenericInternalRow(values)))).iterator()
}

/** `CALL graft.system.checkpoint('db.t')` →
  * [[Versioned.checkpointManifest]]: fold the head's delta chain into
  * a full-snapshot checkpoint SIDECAR (content-identical, no new
  * version, the committed manifest stays immutable) — bounds the
  * reconstruction tail cold readers pay before the next natural
  * checkpoint. Returns whether the head was an unfolded delta. */
final case class CheckpointProcedure(catalog: GraftCatalog)
  extends GraftProcedure(catalog) {
  override def name(): String = "checkpoint"
  override def description(): String =
    "fold the head manifest's delta chain into a checkpoint sidecar"
  override def parameters(): Array[ProcedureParameter] =
    Array(param("table", StringType))
  override def call(input: InternalRow): util.Iterator[Scan] = {
    val folded = Versioned.checkpointManifest(session,
      dirOf(input.getUTF8String(0).toString))
    result(StructType(Seq(StructField("folded", BooleanType,
      nullable = false))), Array[Any](folded))
  }
}

/** `CALL graft.system.history('db.t')` → the DESCRIBE HISTORY audit
  * rows ([[Versioned.history]] — one row per retained version,
  * driver-side manifest reads only). */
final case class HistoryProcedure(catalog: GraftCatalog)
  extends GraftProcedure(catalog) {
  override def name(): String = "history"
  override def description(): String =
    "audit log: one row per retained version, newest first"
  override def parameters(): Array[ProcedureParameter] =
    Array(param("table", StringType))
  override def call(input: InternalRow): util.Iterator[Scan] =
    result(Versioned.history(session, dirOf(input.getUTF8String(0)
      .toString)))
}

/** `CALL graft.system.restore('db.t', v)` → [[Versioned.restore]]:
  * republish version `v`'s state as a NEW commit (history preserved).
  * Returns the new head version. */
final case class RestoreProcedure(catalog: GraftCatalog)
  extends GraftProcedure(catalog) {
  override def name(): String = "restore"
  override def description(): String =
    "re-publish an earlier version's state as a new commit"
  override def parameters(): Array[ProcedureParameter] =
    Array(param("table", StringType), param("version", IntegerType))
  override def call(input: InternalRow): util.Iterator[Scan] = {
    val v = Versioned.restore(session,
      dirOf(input.getUTF8String(0).toString), input.getInt(1))
    result(StructType(Seq(StructField("version", IntegerType,
      nullable = false))), Array[Any](v))
  }
}

/** `CALL graft.system.expire('db.t', keep_last)` → [[Versioned.expire]]:
  * drop all but the newest `keep_last` versions' manifests and
  * collect unreferenced data/sidecar files (pin- and grace-aware).
  * Returns (manifests dropped, data files deleted). */
final case class ExpireProcedure(catalog: GraftCatalog)
  extends GraftProcedure(catalog) {
  override def name(): String = "expire"
  override def description(): String =
    "retention: drop old versions (by count or by age horizon) and " +
      "collect unreferenced files"
  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    ProcedureParameter.in("keep_last", IntegerType)
      .defaultValue("CAST(NULL AS INT)").build(),
    ProcedureParameter.in("older_than", StringType)
      .defaultValue("CAST(NULL AS STRING)").build())
  override def call(input: InternalRow): util.Iterator[Scan] = {
    val dir = dirOf(input.getUTF8String(0).toString)
    // count-based OR age-based — exactly one (they name different
    // cuts; silently combining them would surprise either caller)
    require(input.isNullAt(1) != input.isNullAt(2),
      "expire takes exactly one of keep_last => n (count-based) or " +
        "older_than => '7 days' (age-based, by recorded commit instant)")
    val (manifests, files) =
      if (!input.isNullAt(1))
        Versioned.expire(session, dir, input.getInt(1))
      else Versioned.expireOlderThan(session, dir,
        Versioned.parseDurationMillis(
          input.getUTF8String(2).toString))
    result(StructType(Seq(
      StructField("manifests_dropped", IntegerType, nullable = false),
      StructField("files_deleted", IntegerType, nullable = false))),
      Array[Any](manifests, files))
  }
}

/** `CALL graft.system.compact('db.t' [, cluster_by => 'k1,k2'
  * [, zorder => true] [, target_bytes => N]
  * [, where => '<pred>'] [, small_file_bytes => N]
  * [, dv_debt_above => f] [, overlaps_above => N]
  * [, max_files => N]])`.
  *
  * With no selector: [[Versioned.compactCommit]] — the whole-table
  * rewrite (bin-pack to the target size, materialize every deletion
  * vector; `cluster_by` range-clusters, `zorder => true` interleaves
  * two keys so stats stay selective on both). With ANY of `where` /
  * `small_file_bytes` / `dv_debt_above` / `overlaps_above`:
  * [[Versioned.compactSubset]]
  * — the SCHEDULABLE shape, rewriting only the selected files
  * (stats-admitted by the predicate, physically below the floor,
  * carrying at least the DV fraction, or overlapping at least that
  * many cluster-key ranges), capped per run by
  * `max_files`, everything else republished verbatim; `cluster_by`
  * defaults to the table's declared clustering so the rewrite merges
  * cross-commit key overlap. Returns the new head version. */
final case class CompactProcedure(catalog: GraftCatalog)
  extends GraftProcedure(catalog) {
  override def name(): String = "compact"
  override def description(): String =
    "bin-pack small files (optionally cluster/z-order by keys) and " +
      "materialize deletion vectors; where/small_file_bytes/" +
      "dv_debt_above select a file SUBSET to rewrite"
  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    ProcedureParameter.in("cluster_by", StringType)
      .defaultValue("''").build(),
    ProcedureParameter.in("zorder",
      org.apache.spark.sql.types.BooleanType)
      .defaultValue("false").build(),
    ProcedureParameter.in("target_bytes",
      org.apache.spark.sql.types.LongType)
      .defaultValue((128L << 20).toString).build(),
    ProcedureParameter.in("where", StringType)
      .defaultValue("CAST(NULL AS STRING)").build(),
    ProcedureParameter.in("small_file_bytes",
      org.apache.spark.sql.types.LongType)
      .defaultValue("CAST(NULL AS BIGINT)").build(),
    ProcedureParameter.in("dv_debt_above",
      org.apache.spark.sql.types.DoubleType)
      .defaultValue("CAST(NULL AS DOUBLE)").build(),
    ProcedureParameter.in("max_files", IntegerType)
      .defaultValue("CAST(NULL AS INT)").build(),
    ProcedureParameter.in("overlaps_above", IntegerType)
      .defaultValue("CAST(NULL AS INT)").build())
  override def call(input: InternalRow): util.Iterator[Scan] = {
    val clusterBy =
      if (input.isNullAt(1)) Nil
      else input.getUTF8String(1).toString.split(',').toSeq
        .map(_.trim).filter(_.nonEmpty)
    val zOrder = !input.isNullAt(2) && input.getBoolean(2)
    require(!zOrder || clusterBy.nonEmpty,
      "zorder => true needs cluster_by columns")
    val targetBytes =
      if (input.isNullAt(3)) 128L << 20 else input.getLong(3)
    val where =
      if (input.isNullAt(4)) None
      else Some(org.apache.spark.sql.functions
        .expr(input.getUTF8String(4).toString))
    val smallBytes =
      if (input.isNullAt(5)) None else Some(input.getLong(5))
    val dvAbove =
      if (input.isNullAt(6)) None else Some(input.getDouble(6))
    val maxFiles =
      if (input.isNullAt(7)) None else Some(input.getInt(7))
    val overlapsAbove =
      if (input.isNullAt(8)) None else Some(input.getInt(8))
    val dir = dirOf(input.getUTF8String(0).toString)
    val subset = where.isDefined || smallBytes.isDefined ||
      dvAbove.isDefined || overlapsAbove.isDefined
    require(subset || maxFiles.isEmpty,
      "max_files caps a SUBSET compaction — give a selector too " +
        "(where / small_file_bytes / dv_debt_above / overlaps_above)")
    require(!(subset && zOrder),
      "zorder is a whole-table re-layout; a subset rewrite uses " +
        "plain cluster_by (lexicographic range sort)")
    val v =
      if (subset)
        Versioned.compactSubset(session, dir, where = where,
          smallFileBytes = smallBytes, dvDebtAbove = dvAbove,
          overlapsAbove = overlapsAbove,
          maxFiles = maxFiles, targetBytes = targetBytes,
          clusterBy = if (clusterBy.isEmpty) None else Some(clusterBy))
      else Versioned.compactCommit(session, dir,
        targetBytes = targetBytes, clusterBy = clusterBy,
        zOrder = zOrder)
    result(StructType(Seq(StructField("version", IntegerType,
      nullable = false))), Array[Any](v))
  }
}

/** `CALL graft.system.pin('db.t' [, version => k])` →
  * [[Versioned.pin]]: declare an in-flight read of `version` (default
  * head) so [[Versioned.expire]] keeps it — and everything newer —
  * until the returned id is released with `unpin`. The SQL half of
  * the long-running-reader contract: a pure-SQL training job pins its
  * snapshot before hours of reading and a concurrent retention run
  * can never collect its files mid-read. Returns (id, version). */
final case class PinProcedure(catalog: GraftCatalog)
  extends GraftProcedure(catalog) {
  override def name(): String = "pin"
  override def description(): String =
    "hold a version (and everything newer) against expire until unpin"
  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    ProcedureParameter.in("version", IntegerType)
      .defaultValue("CAST(NULL AS INT)").build())
  override def call(input: InternalRow): util.Iterator[Scan] = {
    val version = if (input.isNullAt(1)) None else Some(input.getInt(1))
    val p = Versioned.pin(session,
      dirOf(input.getUTF8String(0).toString), version)
    result(StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("version", IntegerType, nullable = false))),
      Array[Any](org.apache.spark.unsafe.types.UTF8String
        .fromString(p.id), p.version))
  }
}

/** `CALL graft.system.txn_version('db.t', 'appId')` →
  * [[Versioned.txnHighWater]]: the replayable writer's recorded
  * high-water batchId from the `#txnhw` ledger (Delta's
  * `txnVersion`), NULL when the writer never stamped a commit — what
  * an external replayer consults to resume exactly-once without
  * guessing, O(1): one header read of the head. */
final case class TxnVersionProcedure(catalog: GraftCatalog)
  extends GraftProcedure(catalog) {
  override def name(): String = "txn_version"
  override def description(): String =
    "the replayable writer's recorded high-water batchId " +
      "(#txnhw ledger); NULL when the appId never stamped a commit"
  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    param("app_id", StringType))
  override def call(input: InternalRow): util.Iterator[Scan] = {
    val appId = input.getUTF8String(1).toString
    val hw = Versioned.txnHighWater(session,
      dirOf(input.getUTF8String(0).toString), appId)
    result(StructType(Seq(
      StructField("app_id", StringType, nullable = false),
      StructField("batch_id",
        org.apache.spark.sql.types.LongType, nullable = true))),
      Array[Any](org.apache.spark.unsafe.types.UTF8String
        .fromString(appId), hw.map(java.lang.Long.valueOf).orNull))
  }
}

/** `CALL graft.system.detail('db.t' [, version => v])` →
  * [[Versioned.describeDetail]]: one row of the version's inspection
  * bundle — file/byte/DV counts, every declared policy half, and the
  * PROTOCOL GATE (the reader/writer features a foreign engine must
  * implement to touch the table). Delta's `DESCRIBE DETAIL` on this
  * substrate; `size_bytes` sums the data files' recorded sizes. */
final case class DetailProcedure(catalog: GraftCatalog)
  extends GraftProcedure(catalog) {
  override def name(): String = "detail"
  override def description(): String =
    "one row of the version's inspection bundle: files/bytes/DVs, " +
      "declared policies, and the protocol gate"
  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    ProcedureParameter.in("version", IntegerType)
      .defaultValue("CAST(NULL AS INT)").build())
  override def call(input: InternalRow): util.Iterator[Scan] = {
    val d = Versioned.describeDetail(session,
      dirOf(input.getUTF8String(0).toString),
      if (input.isNullAt(1)) None else Some(input.getInt(1)))
    def str(xs: Seq[String]) = org.apache.spark.unsafe.types
      .UTF8String.fromString(xs.mkString(","))
    result(StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("num_files", IntegerType, nullable = false),
      StructField("size_bytes",
        org.apache.spark.sql.types.LongType, nullable = false),
      StructField("num_deletion_vectors", IntegerType,
        nullable = false),
      StructField("checks", StringType, nullable = false),
      StructField("stats_cols", StringType, nullable = false),
      StructField("bloom_cols", StringType, nullable = false),
      StructField("cluster_cols", StringType, nullable = false),
      StructField("checkpoint_every", IntegerType, nullable = true),
      StructField("colmap_mode", StringType, nullable = true),
      StructField("txn_retention_ms",
        org.apache.spark.sql.types.LongType, nullable = true),
      StructField("schema_enforce", BooleanType, nullable = false),
      StructField("reader_features", StringType, nullable = false),
      StructField("writer_features", StringType, nullable = false))),
      Array[Any](d.version, d.numFiles,
        d.sizeBytes,
        d.numDeletionVectors, str(d.checks), str(d.statCols),
        str(d.bloomCols), str(d.clusterCols),
        d.checkpointEvery.map(java.lang.Integer.valueOf).orNull,
        d.columnMappingMode.map(org.apache.spark.unsafe.types
          .UTF8String.fromString).orNull,
        d.txnRetentionMs.map(java.lang.Long.valueOf).orNull,
        d.schemaEnforce,
        str(d.readerFeatures), str(d.writerFeatures)))
  }
}

/** `CALL graft.system.set_policy('db.t' [, stats_cols => 'a,b']
  * [, bloom_cols => 'id'] [, bloom_expected => N]
  * [, bloom_fpp => f] [, checkpoint_every => n]
  * [, cluster_by => 'c1,c2'] [, txn_retention => '30 days']
  * [, schema_enforce => true])` →
  * [[Versioned.setPolicy]]: re-declare the file-skipping policy,
  * the manifest-checkpoint cadence, the write-time clustering
  * columns, and/or the txn-ledger retention horizon as a metadata
  * commit — the CALL twin of `ALTER TABLE … SET TBLPROPERTIES`, for
  * consumers whose SQL gateway cannot issue DDL. A NULL (omitted)
  * argument keeps that half of the declaration; an EMPTY string
  * clears a column list (or the retention horizon);
  * `checkpoint_every => 0` clears the cadence back to the process
  * default. Returns the policy commit's version. */
final case class SetPolicyProcedure(catalog: GraftCatalog)
  extends GraftProcedure(catalog) {
  override def name(): String = "set_policy"
  override def description(): String =
    "re-declare the file-skipping policy (stats cols + bloom config) " +
      "and/or the manifest-checkpoint cadence as a metadata commit"
  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    ProcedureParameter.in("stats_cols", StringType)
      .defaultValue("CAST(NULL AS STRING)").build(),
    ProcedureParameter.in("bloom_cols", StringType)
      .defaultValue("CAST(NULL AS STRING)").build(),
    ProcedureParameter.in("bloom_expected",
      org.apache.spark.sql.types.LongType)
      .defaultValue("CAST(NULL AS BIGINT)").build(),
    ProcedureParameter.in("bloom_fpp",
      org.apache.spark.sql.types.DoubleType)
      .defaultValue("CAST(NULL AS DOUBLE)").build(),
    ProcedureParameter.in("checkpoint_every", IntegerType)
      .defaultValue("CAST(NULL AS INT)").build(),
    ProcedureParameter.in("cluster_by", StringType)
      .defaultValue("CAST(NULL AS STRING)").build(),
    ProcedureParameter.in("txn_retention", StringType)
      .defaultValue("CAST(NULL AS STRING)").build(),
    ProcedureParameter.in("schema_enforce", BooleanType)
      .defaultValue("CAST(NULL AS BOOLEAN)").build())
  override def call(input: InternalRow): util.Iterator[Scan] = {
    def cols(i: Int): Option[Seq[String]] =
      if (input.isNullAt(i)) None
      else Some(input.getUTF8String(i).toString.split(',').toSeq
        .map(_.trim).filter(_.nonEmpty))
    val stats = cols(1)
    val bloomCols = cols(2)
    // sizing without columns would be silently dropped — the
    // TBLPROPERTIES twin refuses this loudly, so the CALL does too.
    // That covers bloom_cols omitted (NULL) AND bloom_cols => ''
    // (an explicit CLEAR — sizing an index being removed is the
    // same silent drop)
    require(!(bloomCols.forall(_.isEmpty) &&
        (!input.isNullAt(3) || !input.isNullAt(4))),
      "bloom_expected/bloom_fpp size a bloom index — declare " +
        "non-empty bloom_cols too")
    val expected = if (input.isNullAt(3)) 100000L else input.getLong(3)
    val fpp = if (input.isNullAt(4)) 0.03 else input.getDouble(4)
    val blooms = bloomCols.map(_.map((_, expected, fpp)))
    // NULL keeps the declared cadence, 0 clears it (back to the
    // process default), n >= 1 declares it
    val cadence: Option[Option[Int]] =
      if (input.isNullAt(5)) None
      else if (input.getInt(5) == 0) Some(None)
      else Some(Some(input.getInt(5)))
    // NULL keeps the clustering declaration, '' clears it
    val clusterBy = cols(6)
    // NULL keeps the retention horizon, '' clears it (ledger keeps
    // every writer), a duration string declares it
    val txnRetention: Option[Option[Long]] =
      if (input.isNullAt(7)) None
      else {
        val raw = input.getUTF8String(7).toString.trim
        if (raw.isEmpty) Some(None)
        else Some(Some(Versioned.parseDurationMillis(raw)))
      }
    // NULL keeps the enforcement declaration; true/false declare
    val schemaEnforce: Option[Boolean] =
      if (input.isNullAt(8)) None else Some(input.getBoolean(8))
    require(stats.isDefined || blooms.isDefined || cadence.isDefined ||
        clusterBy.isDefined || txnRetention.isDefined ||
        schemaEnforce.isDefined,
      "set_policy needs stats_cols, bloom_cols, checkpoint_every, " +
        "cluster_by, txn_retention, or schema_enforce (NULL keeps, " +
        "'' / 0 clears)")
    val v = Versioned.setPolicy(session,
      dirOf(input.getUTF8String(0).toString), stats, blooms, cadence,
      clusterBy = clusterBy, txnRetention = txnRetention,
      schemaEnforce = schemaEnforce)
    result(StructType(Seq(StructField("version", IntegerType,
      nullable = false))), Array[Any](v))
  }
}

/** `CALL graft.system.unpin('db.t', 'id')` → release a pin taken by
  * `CALL graft.system.pin`. Idempotent; returns whether a pin was
  * actually removed. */
final case class UnpinProcedure(catalog: GraftCatalog)
  extends GraftProcedure(catalog) {
  override def name(): String = "unpin"
  override def description(): String =
    "release a pin taken by CALL graft.system.pin"
  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType), param("id", StringType))
  override def call(input: InternalRow): util.Iterator[Scan] = {
    val released = Versioned.unpin(session,
      dirOf(input.getUTF8String(0).toString),
      input.getUTF8String(1).toString)
    result(StructType(Seq(StructField("released",
      org.apache.spark.sql.types.BooleanType, nullable = false))),
      Array[Any](released))
  }
}

/** `CALL graft.system.file_debt('db.t')` → [[Versioned.fileDebt]]:
  * the full per-file debt report — physical bytes, recorded rows,
  * live DV positions and fraction, and the cross-commit overlap count
  * on the table's leading cluster key. Every signal the compaction
  * selectors understand, in one metadata-priced scan. */
final case class FileDebtProcedure(catalog: GraftCatalog)
  extends GraftProcedure(catalog) {
  override def name(): String = "file_debt"
  override def description(): String =
    "per-file debt report: bytes, rows, DV fraction, cluster-key " +
      "overlap count"
  override def parameters(): Array[ProcedureParameter] =
    Array(param("table", StringType))
  override def call(input: InternalRow): util.Iterator[Scan] =
    result(Versioned.fileDebt(session, dirOf(input.getUTF8String(0)
      .toString)))
}

/** `CALL graft.system.maintain('db.t')` → [[Versioned.maintain]]: run
  * subset compaction with the table's DECLARED `graft.maintain.*`
  * thresholds — the one verb a fleet scheduler loops over every
  * table; each table's own policy says what debt is worth a rewrite.
  * Returns (version, files_rewritten); (head, 0) means no debt
  * exceeded a threshold. Refuses on a table with no declared policy. */
final case class MaintainProcedure(catalog: GraftCatalog)
  extends GraftProcedure(catalog) {
  override def name(): String = "maintain"
  override def description(): String =
    "compact exactly the files whose debt exceeds the table's " +
      "declared graft.maintain.* thresholds"
  override def parameters(): Array[ProcedureParameter] =
    Array(param("table", StringType))
  override def call(input: InternalRow): util.Iterator[Scan] = {
    val (v, rewritten) = Versioned.maintain(session,
      dirOf(input.getUTF8String(0).toString))
    result(StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("files_rewritten", IntegerType, nullable = false))),
      Array[Any](v, rewritten))
  }
}

/** `CALL graft.system.tag('db.t', 'release-v3' [, version => k])` →
  * [[Versioned.tag]]: durable named ref over `version` (default
  * head) — `SELECT … VERSION AS OF 'release-v3'` time-travels to it,
  * expire keeps it, history shows it, restore leaves it meaningful.
  * Returns (tag, version). */
final case class TagProcedure(catalog: GraftCatalog)
  extends GraftProcedure(catalog) {
  override def name(): String = "tag"
  override def description(): String =
    "durable named ref: VERSION AS OF '<name>' time travel + a " +
      "retention floor"
  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType), param("name", StringType),
    ProcedureParameter.in("version", IntegerType)
      .defaultValue("CAST(NULL AS INT)").build())
  override def call(input: InternalRow): util.Iterator[Scan] = {
    val name = input.getUTF8String(1).toString
    val version = if (input.isNullAt(2)) None else Some(input.getInt(2))
    val v = Versioned.tag(session,
      dirOf(input.getUTF8String(0).toString), name, version)
    result(StructType(Seq(
      StructField("tag", StringType, nullable = false),
      StructField("version", IntegerType, nullable = false))),
      Array[Any](org.apache.spark.unsafe.types.UTF8String
        .fromString(name), v))
  }
}

/** `CALL graft.system.untag('db.t', 'name')` → [[Versioned.untag]].
  * Idempotent; returns whether a tag was actually removed. */
final case class UntagProcedure(catalog: GraftCatalog)
  extends GraftProcedure(catalog) {
  override def name(): String = "untag"
  override def description(): String =
    "drop a named tag declared by CALL graft.system.tag"
  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType), param("name", StringType))
  override def call(input: InternalRow): util.Iterator[Scan] = {
    val removed = Versioned.untag(session,
      dirOf(input.getUTF8String(0).toString),
      input.getUTF8String(1).toString)
    result(StructType(Seq(StructField("removed",
      org.apache.spark.sql.types.BooleanType, nullable = false))),
      Array[Any](removed))
  }
}

/** `CALL graft.system.tags('db.t')` → [[Versioned.tags]]: every
  * declared tag with its version. */
final case class TagsProcedure(catalog: GraftCatalog)
  extends GraftProcedure(catalog) {
  override def name(): String = "tags"
  override def description(): String = "list the table's named tags"
  override def parameters(): Array[ProcedureParameter] =
    Array(param("table", StringType))
  override def call(input: InternalRow): util.Iterator[Scan] =
    result(Versioned.tags(session, dirOf(input.getUTF8String(0)
      .toString)))
}

/** `CALL graft.system.dv_debt('db.t')` → [[Versioned.dvDebt]]: per-file
  * deleted-position fractions — the signal that schedules compaction
  * (`WHERE fraction >= 0.3` names the files a rewrite pays for). */
final case class DvDebtProcedure(catalog: GraftCatalog)
  extends GraftProcedure(catalog) {
  override def name(): String = "dv_debt"
  override def description(): String =
    "per-file deleted-row fractions (merge-on-read debt)"
  override def parameters(): Array[ProcedureParameter] =
    Array(param("table", StringType))
  override def call(input: InternalRow): util.Iterator[Scan] =
    result(Versioned.dvDebt(session, dirOf(input.getUTF8String(0)
      .toString)))
}
