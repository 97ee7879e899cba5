package graft.model

/** Pipeline spec ADT — the Spark-native re-expression of the reference's
  * JSON config model (reference pkg/config/config.go:15-64).
  *
  * One [[SyncTaskSpec]] compiles to a snapshot job + a streaming job;
  * each [[TableMapping]] drives per-table masking, upsert keys, and
  * count specs exactly as `TableMapping`/`FieldSecurity`/`CountQuery`
  * do in the reference.
  */
final case class FieldSecurity(
    field: String,             // dot-path, e.g. "profile.email" (security.go:80-83)
    securityType: String)      // "mask" | "encrypt" (security.go:99-123)

final case class CountCondition(
    table: String,             // routing: condition applies only to this table (query_counter.go:88-91)
    field: String,
    operator: String,          // = > >= < <= != <> dateRange (query_counter.go:93-263)
    value: String,             // numerically coerced: long, then double, then string (query_counter.go:185-244)
    dateRange: Option[String] = None) // daily|today|yesterday|weekly|monthly (query_counter.go:96-181)

/** `ignoreDeleteOps` compiles into the CDC pipeline. `syncIndexes`
  * compiles into a key-column index replay on the task's
  * `targetJdbcUrl` at pipeline start (copyIndexes,
  * reference mongodb.go:313-321, postgresql.go:377-457) — a task that
  * sets it without a JDBC target is REJECTED at config load (parquet
  * targets have no indexes; accept-and-ignore would lie). So is one
  * that sets `uploadToGcs`: the reference parses that flag on sync
  * mappings but no syncer consumes it (only the backup executor
  * uploads, via its own destination) — artifact upload belongs to
  * `backupTasks[].uploadDir` / `gcsAddress` here. */
final case class AdvancedSettings(
    syncIndexes: Boolean = false,
    ignoreDeleteOps: Boolean = false, // delete events dropped, not applied (mongodb.go:1168-1177)
    uploadToGcs: Boolean = false)

final case class TableMapping(
    sourceTable: String,
    targetTable: String,
    keyColumns: Seq[String],   // PK discovery result (schema_handler.go:287-311)
    securityEnabled: Boolean = false,
    fieldSecurity: Seq[FieldSecurity] = Nil,
    countConditions: Seq[CountCondition] = Nil,
    advanced: AdvancedSettings = AdvancedSettings(),
    // DatabaseMapping context (config.go:36-41): set when the table came
    // from a mappings[] entry, overriding the task-level sourceDb — so a
    // multi-database task keeps each table's namespace and storage paths
    sourceDb: Option[String] = None,
    targetDb: Option[String] = None)

final case class SyncTaskSpec(
    id: Int,
    taskType: String,          // mongodb|mysql|mariadb|postgresql|redis (config.go:44)
    enabled: Boolean,
    tables: Seq[TableMapping],
    checkpointDir: String,
    // Connection stand-ins (the reference carries DSNs built by
    // buildDSNByType, config.go:330-370; the Spark engine's sources and
    // sinks are stream/table roots — one subdirectory per table):
    sourceDir: String = "",        // change-event stream root
    targetDir: String = "",        // bucketed parquet target root
    dlqDir: String = "",           // parked-batch root (defaults beside target)
    sourceDb: String = "graft",    // DatabaseMapping.SourceDatabase (config.go:36-41)
    snapshotDir: Option[String] = None, // initial-sync parquet root (S1 skip-if-nonempty)
    targetJdbcUrl: Option[String] = None, // DDL-replay connection for syncIndexes mappings
    // the opt-in change-stream riders this task runs per table, by JSON
    // key (`dailyRollup`, `sessionize`, ...; the table is Compiler.Riders)
    riders: Set[String] = Set.empty)

/** A config task the engine runs on a five-field cron schedule
  * (cronjob.go:100-192): `id` is unique within its family, and the
  * engine's scheduled-task table maps each family to its own job-id
  * namespace. */
trait Scheduled {
  def id: Int
  def schedule: String
}

/** A scheduled entity-resolution store maintenance task — the
  * append/probe steady state of [[graft.operators.Dedup.appendToEntityStore]]
  * under the engine's cron discipline: each run appends the source's
  * NEW (id, name) rows (anti-joined against the store), probes the
  * variant index with the increment only, and optionally compacts —
  * the `annIndexTasks` lifecycle instantiated on the identity
  * column. */
final case class ErTaskSpec(
    id: Int,
    schedule: String = "15 5 * * *",
    sourceDir: String = "",   // table root holding `customer`
    storeDir: String = "",    // entity store root
    compact: Boolean = false) extends Scheduled

/** Backup/export task spec (reference pkg/backup/executor.go:157-271). */
final case class BackupTableSpec(
    tablePattern: String,      // regex over table names (executor.go:421-458)
    fields: Seq[String],       // "all" sentinel = full projection (external_simple.go:420-425)
    timeField: Option[String],
    startOffsetDays: Int = -1, // JST day offsets (time_utils.go:12-16)
    endOffsetDays: Int = -1)

final case class BackupSpec(
    id: Int,
    format: String,            // json | csv | sql
    tables: Seq[BackupTableSpec],
    compress: Boolean = true,
    schedule: String = "0 2 * * *", // five-field cron (cronjob.go:100-192)
    sourceDir: String = "",         // table root the export scans
    outDir: String = "",            // artifact root
    uploadDir: Option[String] = None) extends Scheduled // zip + store destination (≙ gcsAddress)

/** A scheduled training-data build: the curate → epoch-mix → pack
  * chain ([[graft.operators.TextOps.trainingExport]]) run as a cron
  * job over a documents corpus, landing the packed-sequence manifest
  * under `outDir` partitioned by pack group. An empty `rates` map means
  * the operator's default mix. */
final case class TrainingExportSpec(
    id: Int,
    schedule: String = "0 3 * * *",
    sourceDir: String = "",    // corpus root (documents.parquet inside)
    outDir: String = "",       // manifest root
    minQuality: Double = 0.66,
    capacity: Int = 512,
    rates: Map[String, Double] = Map.empty) extends Scheduled

/** A scheduled layout-maintenance job (the lakehouse `OPTIMIZE ZORDER
  * BY` face): rewrite a parquet table Z-clustered on two integer
  * columns ([[graft.operators.Layout.writeZOrdered]]) into `outDir` —
  * the optimized mirror scan-heavy consumers read. Run off-peak; the
  * one range-exchange it pays at write is what every multi-dimension
  * filtered scan saves afterwards. */
final case class OptimizeSpec(
    id: Int,
    schedule: String = "0 4 * * *",
    sourceDir: String = "",    // input parquet table (file or dir)
    outDir: String = "",       // optimized mirror
    zorderBy: (String, String) = ("", ""),
    numFiles: Int = 8) extends Scheduled

/** A scheduled data-quality gate: the declarative rule list
  * ([[graft.operators.DataQuality]]) evaluated against one table on a
  * cron, each FAILED rule raising a `dq_violation` alert — the
  * trust-but-verify face of the sync pipeline (a target that drifts
  * out of contract pages someone before a consumer reads it). */
final case class DqSpec(
    id: Int,
    schedule: String = "0 6 * * *",
    sourceDir: String = "",
    table: String = "",
    rules: Seq[graft.operators.DataQuality.Rule] = Nil) extends Scheduled

/** A scheduled source↔target CONTENT reconciliation: both ends'
  * monthly XOR checksums ([[graft.operators.Relational.monthlyChecksums]])
  * compared month by month, each diverging month raising a
  * `checksum_mismatch` alert naming where the repair scan should go —
  * the J4 count comparison upgraded to content equality, still without
  * moving a row between stores. */
final case class ChecksumSpec(
    id: Int,
    schedule: String = "30 5 * * *",
    sourceDir: String = "",
    targetDir: String = "") extends Scheduled

/** A scheduled ANN index-quality watchdog: recall@k of the stored IVF
  * index's probes against exact-cosine truth over the corpus of
  * record, alerting when the mean drops below the bound — the eval
  * face of `annIndexTasks` (an index can go stale against a growing
  * corpus or degrade as appends skew its cells; this is the gauge
  * that says re-found/retrain before consumers notice). */
final case class AnnEvalSpec(
    id: Int,
    schedule: String = "45 4 * * *",
    sourceDir: String = "",     // corpus of record (embeddings table)
    indexDir: String = "",      // stored IVF root
    k: Int = 5,
    nprobe: Int = 4,
    minRecallMicro: Long = 800000L) extends Scheduled

/** A scheduled quality-model eval watchdog — the model-drift gauge for
  * the classifier gating the curation pipeline: Cohen's kappa against
  * the heuristic label (agreement), exact ROC-AUC (ranking power), and
  * expected calibration error (over/under-confidence), each with an
  * alert bound. A filter model degrades silently as the corpus mix
  * shifts under it — throughput stays normal while keep decisions go
  * wrong; this is the gauge that says recalibrate/retrain before the
  * exported training mix drifts. All three metrics fold to integer
  * micro scalars from bounded frames (1-row, 1-row, ≤10 bins). */
final case class ModelEvalSpec(
    id: Int,
    schedule: String = "55 4 * * *",
    sourceDir: String = "",     // documents corpus root
    minKappaMicro: Long = 200000L,
    minAucMicro: Long = 700000L,
    maxEceMicro: Long = 150000L) extends Scheduled

/** A scheduled co-purchase-graph maintenance job — `annIndexTasks`'
  * discipline for the graph store: reconcile the edge store against
  * the orders of record (the basket ledger admits only baskets the
  * store lacks — an unchanged corpus is a no-op, work per run is
  * O(increment)), optionally compacting the accumulated deltas (and
  * physically erasing right-to-be-forgotten tombstones). */
final case class GraphTaskSpec(
    id: Int,
    schedule: String = "20 5 * * *",
    sourceDir: String = "",   // orders-of-record root (lineitem table)
    storeDir: String = "",    // graph store root (edges/ + baskets/)
    compact: Boolean = false) extends Scheduled

/** A scheduled graph-health audit over the co-purchase graph — the
  * watchdog face of the q239 datasheet / q267 modularity pair: each
  * run re-partitions the graph with fixed-round LPA and pages when the
  * partition's global Newman modularity falls below `minQMicro`. A
  * co-purchase graph whose community structure collapses toward chance
  * means every family-level signal downstream — related parts,
  * recommendations, link prediction — is reading noise; this is the
  * gauge that says so before a dashboard does. An EMPTY graph (no
  * baskets with ≥2 items yet) reads as no-audit, never an error page
  * (the drift family's empty-source discipline). */
final case class GraphHealthSpec(
    id: Int,
    schedule: String = "45 6 * * *",
    sourceDir: String = "",
    iters: Int = 4,
    minQMicro: Long = 100000L,
    // modularity-DRIFT watch (q298): page when any epoch-over-epoch
    // modularity DROP exceeds this bound. Long.MaxValue = off (the
    // N-LPA series is only paid for when a bound is configured).
    epochs: Int = 4,
    maxDriftMicro: Long = Long.MaxValue,
    // optional persisted epoch-gauge store: when set, each audit
    // appends newly-closed epochs' gauges and reads the series
    // through the store — one open-epoch LPA per run instead of N
    storeDir: String = "") extends Scheduled

/** A scheduled distribution-drift audit over the event stream — the
  * watchdog face of the q253 monitor: each run computes the per-type
  * total-variation distance between the stream's first and second
  * time halves and pages every type whose TVD crosses `maxTvdMicro`.
  * This is the gauge that should fire BEFORE anyone tightens a
  * [[RetrainSpec]] schedule: thresholds picked under last month's
  * distribution silently misclassify under this month's. */
final case class DriftSpec(
    id: Int,
    schedule: String = "25 6 * * *",
    sourceDir: String = "",
    bucketWidth: Double = 5.0,
    maxTvdMicro: Long = 200000L) extends Scheduled

/** A scheduled quality-model retrain — the promote-if-better loop
  * closing the q245 lifecycle: train candidate weights on the salted
  * train split, score candidate AND incumbent on the held-out split
  * through ONE AUC definition, and publish the candidate to the
  * [[graft.operators.ModelStore]] registry only when it beats the
  * incumbent by at least `minGainMicro` (hysteresis — a retrain on
  * unchanged data is a no-op promotion-wise, and noise-sized wobbles
  * never churn the serving weights). The founding run promotes
  * unconditionally (there is no incumbent to hold for). */
final case class RetrainSpec(
    id: Int,
    schedule: String = "40 3 * * *",
    sourceDir: String = "",   // documents corpus root
    storeDir: String = "",    // model registry root
    iters: Int = 20,
    lr: Long = 16L,
    minGainMicro: Long = 5000L) extends Scheduled

/** A scheduled privacy-risk audit over a shared/exported table — the
  * watchdog face of the k-anonymity / l-diversity / t-closeness trio:
  * each run profiles the table under the configured quasi-identifiers
  * and sensitive column and pages when any gauge crosses its bound
  * (a group smaller than `minK`, a group with fewer than `minL`
  * distinct sensitive values, or a group whose sensitive distribution
  * sits further than `maxEmdMicro` from the table's). A sharing
  * decision reviewed once silently decays as the table grows — new
  * nations, new segments, drifting balances — and this is the gauge
  * that says re-generalize before the next export, not after.
  * `bandWidth` > 0 coarsens a continuous sensitive column to
  * ⌊value/bandWidth⌋ bands first (the generalization knob the
  * profile operators leave to the caller). */
final case class PrivacySpec(
    id: Int,
    schedule: String = "10 6 * * *",
    sourceDir: String = "",
    table: String = "customer",
    quasiIds: Seq[String] = Seq("c_nationkey", "c_mktsegment"),
    sensitive: String = "c_acctbal",
    bandWidth: Long = 1000L,
    minK: Long = 5L,
    minL: Long = 2L,
    maxEmdMicro: Long = 200000L) extends Scheduled

/** A scheduled vector-index maintenance job — the index-ops face of
  * the ANN family, composing the persisted-index operators the way
  * `optimizeTasks` composes the layout ones: found each enabled index
  * if absent, RECONCILE-append the corpus increment (only vectors the
  * index lacks — an anti-join on vec_id, so a run over an unchanged
  * corpus is a no-op and work per run is O(increment)), optionally
  * retrain + store the PQ codebooks, optionally compact (rewriting
  * cells/codes minus right-to-be-forgotten tombstones). The IVF and
  * code indexes live under separate roots (`ivf/`, `codes/`) so each
  * owns its tombstone set — compaction of one must not blind the
  * other's tombstones. */
final case class AnnIndexSpec(
    id: Int,
    schedule: String = "0 5 * * *",
    sourceDir: String = "",    // embeddings corpus root
    indexDir: String = "",     // index root (ivf/ and codes/ beneath)
    ivf: Boolean = true,
    codes: Boolean = true,
    jl: Boolean = false,
    trainPq: Boolean = false,
    compact: Boolean = false) extends Scheduled

/** A resident decontamination pipeline
  * ([[graft.streaming.DecontamStream]]): a JSON document stream at
  * `sourceDir` scored at ingest against the eval slice of the corpus
  * at `corpusDir`, landing the scored log (quarantine face = the
  * `contaminated` column) in `outDir` under the supervisor — hot
  * reload, restart-on-death, and guarded starts like any sync
  * pipeline. */
/** The view an IVM pipeline maintains ([[graft.streaming.IvmStream]],
  * batch twin [[graft.operators.Cdc.incrementalViewOf]]): group rows
  * by `pmod(payload.bucketField, buckets)` (null key → bucket −1) and
  * keep the configured aggregate columns fresh under last-writer-wins
  * change semantics. Only ABELIAN-GROUP aggregates can ride retraction
  * algebra (a max cannot be un-maxed without full per-group state), so
  * the supported tokens are `n_rows` (live-row count — required: it is
  * the liveness counter the empty-bucket drop needs) and `cents`
  * (sum of floor(payload.valueField · 100)). */
final case class IvmView(
    buckets: Int = 8,
    keyField: String = "key",
    bucketField: String = "k",
    valueField: String = "value",
    aggs: Seq[String] = Seq("n_rows", "cents"))

/** A resident incremental-view-maintenance pipeline: the CDC change
  * log at `sourceDir` keeps the [[IvmView]] aggregate view fresh with
  * delta work only, publishing Atomic-versioned replacements under
  * `storeDir` with a batch-id replay guard — under the supervisor
  * like any sync pipeline (hot reload, restart-on-death, guarded
  * starts). */
final case class IvmTaskSpec(
    id: Int,
    enabled: Boolean = true,
    sourceDir: String = "",
    storeDir: String = "",
    checkpointDir: String = "",
    view: IvmView = IvmView())

final case class DecontamSpec(
    id: Int,
    enabled: Boolean = true,
    corpusDir: String = "",
    sourceDir: String = "",
    outDir: String = "",
    checkpointDir: String = "",
    k: Int = 4,
    minHits: Int = 2,
    evalMod: Int = 10)
