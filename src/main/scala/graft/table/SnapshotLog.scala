package graft.table

import java.nio.charset.StandardCharsets
import java.util.UUID

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot manifest — the unit of atomic visibility. All outputs of a
  * commit (valid rows, violation rows, rollups, metrics, sketches) become
  * visible together or not at all: readers only ever list files through a
  * committed manifest. This is how the engine honors both Iceberg snapshot
  * semantics and the reference's delivery-confirmed GuaranteedProducer
  * contract (/root/reference/lib/factories/default-eventgate.js:254-257):
  * no partial batch is ever observable.
  *
  * Growth discipline (the 10^12-row argument): `partitionsDelta` and
  * `tables` record only what THIS commit added — full views are
  * reconstructed by walking the parent chain ([[SnapshotLog.chain]]), so
  * total manifest bytes over P partitions are O(P), not O(P²) as a
  * cumulative-list design would be. Only the fixed-key maps (`metrics`
  * counters and merged `sketches`) are cumulative: they are O(1) per
  * manifest and needing the latest value without a chain walk is the point.
  *
  * Lineage per north_rule: source snapshot id (parent), partition spec,
  * constraint-set version, committed partition set, metrics (including
  * per-phase duration totals).
  */
final case class Manifest(
    snapshotId: String,
    sequence: Long,
    parentId: Option[String],
    constraintVersion: String,
    partitionSpec: String,
    /** partitions committed by THIS manifest (delta, not cumulative). */
    partitionsDelta: Seq[Int],
    complete: Boolean,
    /** logical table -> data paths ADDED by this commit (delta). */
    tables: Map[String, Seq[String]],
    /** cumulative counters (status counts, duration totals) — fixed key set.
      * Per-phase wall times may overlap (a validation commit writes its
      * observed rollups while it writes its violations). */
    metrics: Map[String, Long],
    /** cumulative merged column-stat sketches: name -> base64(bytes). */
    sketches: Map[String, String],
    createdAtMs: Long,
    /** true ⇒ this manifest holds the FULL partition/file view and the
      * chain walk stops here (parentId is kept as pure lineage). Written by
      * [[SnapshotLog.checkpoint]]. */
    checkpoint: Boolean = false,
    /** streaming replay-idempotency ledger: checkpoint identity → micro-batch
      * ids committed by THIS manifest (delta). Kept apart from
      * `partitionsDelta` (and as Long) so a recreated streaming checkpoint —
      * whose batch ids restart at 0 — gets a fresh identity instead of
      * silently skipping new batches against a stale id space. */
    streamBatches: Map[String, Seq[Long]] = Map.empty,
    /** tables whose `tables` entry in THIS manifest REPLACES the whole
      * ancestor chain (per-table path-walk stop, the data analog of the
      * all-tables `checkpoint` flag). Written by [[Maintenance.compact]]:
      * the compacted rewrite supersedes every older file of that table, so
      * readers must not union the old paths in — and after
      * [[Maintenance.expire]] those paths no longer exist. */
    tablesReplaced: Seq[String] = Seq.empty,
    /** parquet FILE schema (StructType JSON) per table written by THIS
      * commit (delta, like `tables`). Readers apply the NEWEST schema on
      * the chain ([[SnapshotLog.tableSchema]]) instead of inferring from
      * footers — at 10^5-file scale that removes all planning-time schema
      * I/O, and it makes additive schema evolution read correctly (older
      * files yield null for columns a newer constraint version added,
      * instead of sampled-footer inference silently dropping them). */
    tableSchemas: Map[String, String] = Map.empty
) {
  /** The parent's sequence, read from its snapshot id. */
  def parentSeq: Option[Long] = parentId.map(_.stripPrefix("snap-").toLong)
}

/** Append-only snapshot log over any Hadoop filesystem.
  *
  * No Iceberg jars ship in this environment (SURVEY.md env facts), so this
  * thin layer supplies the needed subset: numbered JSON manifests under
  * `<root>/snapshots/`, committed by write-to-temp + atomic rename (atomic
  * on HDFS and on local fs). HEAD = highest committed sequence — derived by
  * listing, so there is no second pointer file to keep consistent.
  *
  * On a `file:` root the log opens its filesystem from one copy of `conf`
  * with [[LocalFs]]'s keys: manifest commits, checkpoints and the rename
  * check set file modes with a syscall instead of a forked `chmod`, `.crc`
  * checksums are still written, and `conf` itself is left as it was.
  */
final class SnapshotLog(val root: String, conf: Configuration) extends Serializable {

  @transient private lazy val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  @transient private lazy val fsConf = LocalFs.conf(conf)
  private[table] def fs: FileSystem = new Path(root).getFileSystem(fsConf)
  private[table] def snapDir = new Path(root, "snapshots")

  // No '=' in layout segments: key=value-shaped directory names engage
  // Spark's partition discovery, which (for multi-root reads of tables that
  // ALSO have real partition dirs below) ascends past the roots and rejects
  // differing batch tags as conflicting partition structures.
  def dataDir(tag: String, table: String): String =
    new Path(root, s"data/p-$tag/$table").toString

  private[table] def manifestPath(seq: Long) = new Path(snapDir, f"$seq%08d.json")

  def head: Option[Manifest] = {
    val f = fs
    if (!f.exists(snapDir)) return None
    val seqs = f
      .listStatus(snapDir)
      .map(_.getPath.getName)
      .filter(_.matches("\\d{8}\\.json"))
      .map(_.stripSuffix(".json").toLong)
    if (seqs.isEmpty) None else Some(read(seqs.max))
  }

  // Committed manifests are immutable, so reads are cached PROCESS-WIDE by
  // (root, sequence): chain walks (readers, checkpoint, expire reachability)
  // become in-memory after the first read instead of re-opening+re-parsing
  // JSON per walk — at thousands of delta commits that is the difference
  // between O(chain) and O(chain²) metadata I/O. [[Maintenance.expire]]
  // evicts what it deletes — the process-wide key means EVERY log instance
  // over the same root sees the eviction, so expired time travel still
  // throws. (A different process that cached the manifest before expire ran
  // can still serve it until restart — inherent to any cache; the engine is
  // single-writer and maintenance runs in the writer's process.)
  private def cacheKey(seq: Long): (String, Long) = (root, seq)

  private[table] def uncache(seq: Long): Unit = SnapshotLog.manifestCache.remove(cacheKey(seq))

  def read(seq: Long): Manifest = SnapshotLog.manifestCache.getOrElseUpdate(cacheKey(seq), {
    val in = fs.open(manifestPath(seq))
    try {
      val bytes = new Array[Byte](fs.getFileStatus(manifestPath(seq)).getLen.toInt)
      in.readFully(bytes)
      val m = mapper.readValue(bytes, classOf[Manifest])
      // Jackson erases generic container params: numeric map values arrive
      // as Integer at runtime. Normalize to Long to keep the typed API honest.
      val rawMetrics = m.metrics.asInstanceOf[Map[String, Any]]
      val rawBatches = m.streamBatches.asInstanceOf[Map[String, Seq[Any]]]
      m.copy(
        metrics = rawMetrics.map { case (k, v) => (k, v.asInstanceOf[Number].longValue) },
        streamBatches = rawBatches.map { case (k, v) => (k, v.map(_.asInstanceOf[Number].longValue)) }
      )
    } finally in.close()
  })

  /** Manifest and its ancestors back to (and including) the nearest
    * checkpoint, newest first. Chain length = commits since the last
    * [[checkpoint]] — metadata-sized reads, never data reads.
    */
  def chain(m: Manifest): Iterator[Manifest] = new Iterator[Manifest] {
    private var cur: Option[Manifest] = Option(m)
    def hasNext: Boolean = cur.isDefined
    def next(): Manifest = {
      val c = cur.get
      cur = if (c.checkpoint) None else c.parentSeq.map(read)
      c
    }
  }

  /** Squash the chain into one checkpoint manifest holding the full
    * committed-partition set and file lists — the snapshot-compaction step
    * that keeps resume/read metadata O(1) in chain length at 10^12-row
    * scale (⌈P/k⌉ delta manifests would otherwise make every HEAD read an
    * O(P/k) walk). Metrics/sketches are already cumulative; `parentId`
    * stays as lineage but the walk stops here.
    */
  def checkpoint(m: Manifest): Manifest = {
    val tableNames = chain(m).flatMap(_.tables.keys).toSet
    commit(
      m.copy(
        parentId = Some(m.snapshotId),
        partitionsDelta = committedPartitions(m).toSeq.sorted,
        // stored newest-first so tablePaths' chain-order reverse round-trips
        tables = tableNames.map(t => t -> tablePaths(m, t).reverse).toMap,
        streamBatches = chain(m).flatMap(_.streamBatches.keys).toSet
          .map((k: String) => k -> committedStreamBatches(m, k).toSeq.sorted).toMap,
        tableSchemas = tableNames.flatMap(t => tableSchemaJson(m, t).map(t -> _)).toMap,
        checkpoint = true,
        createdAtMs = System.currentTimeMillis()
      )
    )
  }

  /** Full committed-partition set as of `m` (union of deltas up the chain) —
    * the resume checkpoint set of the north_rule.
    */
  def committedPartitions(m: Manifest): Set[Int] =
    chain(m).flatMap(_.partitionsDelta).toSet

  /** Micro-batch ids already committed under a streaming checkpoint
    * identity: the union of the `streamBatches` ledger entries up the chain.
    */
  def committedStreamBatches(m: Manifest, checkpointId: String): Set[Long] =
    chain(m).flatMap(_.streamBatches.getOrElse(checkpointId, Seq.empty)).toSet

  /** Chain prefix relevant to `table`: newest-first, ending at (and
    * including) the first manifest that replaces the table (compaction) —
    * or at the chain's own stop (checkpoint / root) otherwise.
    */
  private def chainFor(m: Manifest, table: String): Seq[Manifest] = {
    val buf = Vector.newBuilder[Manifest]
    val it = chain(m)
    var done = false
    while (it.hasNext && !done) {
      val c = it.next()
      buf += c
      if (c.tablesReplaced.contains(table)) done = true
    }
    buf.result()
  }

  /** Full data-path list of a logical table as of `m`. */
  def tablePaths(m: Manifest, table: String): Seq[String] =
    chainFor(m, table).flatMap(_.tables.getOrElse(table, Seq.empty)).reverse

  private def tableSchemaJson(m: Manifest, table: String): Option[String] =
    chainFor(m, table).iterator.flatMap(_.tableSchemas.get(table)).nextOption()

  /** The NEWEST recorded file schema of `table` on `m`'s chain — commits
    * record what they wrote (delta, like `tables`), so the first hit
    * newest-first is the current schema and older files simply surface
    * null for columns added later. None on pre-schema manifests (readers
    * fall back to parquet footer inference).
    */
  def tableSchema(m: Manifest, table: String): Option[org.apache.spark.sql.types.StructType] =
    tableSchemaJson(m, table).map(
      org.apache.spark.sql.types.DataType.fromJson(_).asInstanceOf[org.apache.spark.sql.types.StructType]
    )

  /** Non-additive schema evolution is REJECTED at commit time: readers
    * apply the newest recorded schema on the chain ([[tableSchema]]), so a
    * delta commit that drops or retypes an existing column would silently
    * hide that column (or mis-cast it) in every OLDER file of the table.
    * Rename therefore = add the new column + keep the old; a genuine
    * revert is [[Maintenance.rollbackTo]]. Checkpoint manifests are exempt:
    * they squash the RESOLVED state of an ancestor (rollback's revert path),
    * they do not evolve it.
    */
  /** Type equality modulo nullability at every nesting level — writers
    * legitimately flip containsNull/nullable between batches (e.g. an
    * exploded array column), and nullability is not a retype.
    */
  private def sameTypeIgnoreNullability(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (a, b) match {
      case (ArrayType(ae, _), ArrayType(be, _)) => sameTypeIgnoreNullability(ae, be)
      case (MapType(ak, av, _), MapType(bk, bv, _)) =>
        sameTypeIgnoreNullability(ak, bk) && sameTypeIgnoreNullability(av, bv)
      case (StructType(af), StructType(bf)) =>
        af.length == bf.length && af.zip(bf).forall { case (x, y) =>
          x.name == y.name && sameTypeIgnoreNullability(x.dataType, y.dataType)
        }
      case _ => a == b
    }
  }

  private def guardSchemaEvolution(m: Manifest, h: Manifest): Unit =
    m.tableSchemas.foreach { case (table, json) =>
      tableSchema(h, table).foreach { old =>
        val neu = org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val neuByName = neu.fields.map(f => f.name -> f).toMap
        old.fields.foreach { of =>
          neuByName.get(of.name) match {
            case None => throw new IllegalArgumentException(
              s"schema evolution for table '$table' drops column '${of.name}' — additive only " +
                "(rename = add new + keep old; revert via Maintenance.rollbackTo)")
            case Some(nf) if !sameTypeIgnoreNullability(nf.dataType, of.dataType) => throw new IllegalArgumentException(
              s"schema evolution for table '$table' retypes column '${of.name}' from " +
                s"${of.dataType.sql} to ${nf.dataType.sql} — additive only")
            case _ => ()
          }
        }
      }
    }

  /** Lost-update detection for filesystems whose rename OVERWRITES
    * (POSIX local fs): exists(dest)+rename is check-then-act, so two
    * PROCESSES can both claim sequence N and the first writer's manifest is
    * silently replaced. After a successful rename, re-read dest and confirm
    * OUR bytes survived — an overwritten loser sees foreign content and
    * retries at the next sequence (round-5 advisory). This NARROWS the
    * POSIX lost-update window to [verification read, racer's rename]; it
    * does not close it — a racer overwriting dest after our read is still
    * silently lost on a rename-overwrites filesystem. Cross-process safety
    * rests on HDFS fail-if-exists rename (the deployment target), where
    * this check is a no-op read of our own file; the POSIX check exists so
    * local multi-process misuse fails loudly in the common interleavings
    * rather than always silently. Byte equality is exact: identical racing
    * payloads are indistinguishable but then the "lost" update is
    * content-identical.
    *
    * A TRANSIENT read failure here is not a lost race: the rename already
    * succeeded, so answering `false` would re-enter the retry loop and
    * commit the same delta twice (readers walking the parent chain would
    * see its rows duplicated). The read is retried briefly and then the
    * ambiguity is surfaced as an error instead of guessed away.
    */
  private[graft] def survivedRename(f: FileSystem, dest: Path, payload: Array[Byte]): Boolean = {
    var attempt = 0
    var result = Option.empty[Boolean]
    while (result.isEmpty) {
      try {
        val len = f.getFileStatus(dest).getLen
        if (len != payload.length) result = Some(false)
        else {
          val in = f.open(dest)
          try {
            val bytes = new Array[Byte](len.toInt)
            in.readFully(bytes)
            result = Some(java.util.Arrays.equals(bytes, payload))
          } finally in.close()
        }
      } catch {
        case _: java.io.FileNotFoundException =>
          // definitive, and safe to answer false: with dest gone the retry
          // loop re-reads head BELOW this sequence and recommits at the
          // SAME sequence — no duplicate delta
          result = Some(false)
        case e: java.io.IOException =>
          attempt += 1
          if (attempt >= 3) throw new IllegalStateException(
            s"commit verification read failed after a successful rename to $dest — " +
              "manifest state ambiguous; refusing to retry the commit (it may already be live)", e)
          Thread.sleep(50L * attempt)
      }
    }
    result.get
  }

  /** Atomic commit: temp write + rename is the commit point. Sequence is
    * assigned here (head+1). A writer that loses the race re-reads HEAD and
    * retries at the next sequence (bounded attempts) — multi-writer
    * liveness, not just single-winner safety. Same-JVM writers are
    * serialized by a per-root lock (so the exists/rename pair is race-free
    * in-process); cross-process mutual exclusion rests on the FileSystem's
    * atomic fail-if-exists rename (HDFS semantics — the deployment target;
    * POSIX local rename overwrites, hence the exists() precheck and the
    * in-process lock that make local multi-writer tests exact).
    */
  def commit(m: Manifest, maxAttempts: Int = 5): Manifest =
    SnapshotLog.lockFor(root).synchronized {
      val f = fs
      f.mkdirs(snapDir)
      var attempt = 0
      var committed: Manifest = null
      while (committed == null) {
        attempt += 1
        val h = head
        if (!m.checkpoint) h.foreach(guardSchemaEvolution(m, _))
        val seq = h.map(_.sequence + 1).getOrElse(1L)
        // Delta commits are re-parented to the TRUE head under the lock:
        // chain() walks parentId, so a retried commit keeping its caller's
        // stale parent would orphan the race winner's manifest from every
        // subsequent read. Checkpoints keep the caller's parentId — it is
        // pure lineage to the squashed ancestor (chain stops at the
        // checkpoint flag), and rollbackTo depends on that.
        val stamped = m.copy(sequence = seq, snapshotId = f"snap-$seq%08d",
          parentId = if (m.checkpoint) m.parentId else h.map(_.snapshotId))
        val tmp = new Path(snapDir, s".tmp-${UUID.randomUUID()}.json")
        val payload = mapper.writeValueAsString(stamped).getBytes(StandardCharsets.UTF_8)
        val out = f.create(tmp, false)
        try out.write(payload)
        finally out.close()
        val dest = manifestPath(seq)
        if (!f.exists(dest) && f.rename(tmp, dest) && survivedRename(f, dest, payload)) {
          // Refresh the process-wide cache under the new key: if this root
          // was deleted and re-created at the same path within one JVM
          // (tests, fixed bench dirs), a prior incarnation's manifest could
          // otherwise be served for this sequence forever (round-3
          // advisory). `stamped` is exactly what `read` would reparse —
          // typed Long metrics, no Jackson erasure.
          SnapshotLog.manifestCache.put(cacheKey(seq), stamped)
          committed = stamped
        } else {
          f.delete(tmp, false)
          if (attempt >= maxAttempts)
            throw new IllegalStateException(
              s"commit lost the rename race $attempt times (last sequence tried: $seq)")
        }
      }
      committed
    }

  /** Read a logical table through the manifest chain's file lists (never by
    * directory listing — uncommitted data is invisible by construction).
    *
    * ONE multi-path scan regardless of commit count: writers duplicate any
    * routing columns into `*d`-suffixed partition directories
    * (statusd=/streamd=) but keep the real columns IN the data files, so
    * reads disable Hive partition inference entirely
    * (recursiveFileLookup) — Spark would otherwise reject multi-root reads
    * of internally partitioned roots with CONFLICTING_DIRECTORY_STRUCTURES,
    * which round 2 worked around with an O(#commits)-leg union (analyzer
    * cost + no scan sharing at thousands of commits). Data filters on the
    * routing columns still skip whole files via parquet min/max stats (each
    * file holds a single routing value).
    */
  def readTable(spark: SparkSession, m: Manifest, table: String): DataFrame = {
    val paths = tablePaths(m, table)
    require(paths.nonEmpty, s"table $table has no data in ${m.snapshotId}")
    readPaths(spark, paths, tableSchema(m, table))
  }

  /** Time-travel read: the table exactly as of snapshot `seq` — every
    * manifest is an immutable full view (via its parent chain), so reading
    * through an old one IS the Iceberg `VERSION AS OF` semantic. Holds until
    * [[Maintenance.expire]] retires manifests older than the latest
    * checkpoint (then this throws FileNotFound, as expired time travel
    * should).
    */
  def readTableAsOf(spark: SparkSession, seq: Long, table: String): DataFrame =
    readTable(spark, read(seq), table)

  /** Incremental read (Iceberg incremental-scan analog): rows ADDED to
    * `table` by commits in `(fromSeq, toSeq]` — the downstream-pipeline
    * primitive ("process only what's new since my last run") that turns a
    * periodic 10^12-row re-read into a delta-sized one. Pure manifest-delta
    * work: each manifest's `tables` entry lists exactly the paths its commit
    * added, so the file list is assembled without touching data.
    *
    * Metadata-only commits contribute nothing: a checkpoint squashes the
    * chain (its `tables` are FULL lists — counting them would replay the
    * whole table) and a compaction rewrites existing rows (`tablesReplaced`)
    * — neither adds data. The range is resolved by walking `toSeq`'s PARENT
    * LINEAGE, not raw sequence numbers: commits abandoned by
    * [[Maintenance.rollbackTo]] are not ancestors of later snapshots, so
    * their rows never surface as phantom deltas — and a `fromSeq` that was
    * itself rolled back (the consumer's cursor points at abandoned history)
    * throws rather than silently skipping. Also throws if a needed manifest
    * was retired by [[Maintenance.expire]]: an incremental reader that fell
    * behind the retention window must re-bootstrap from a full snapshot
    * read, same as Iceberg.
    */
  def readTableChanges(spark: SparkSession, fromSeq: Long, toSeq: Long, table: String): DataFrame = {
    require(0 <= fromSeq && fromSeq <= toSeq, s"need 0 <= fromSeq <= toSeq, got ($fromSeq, $toSeq]")
    val commits = lineage(toSeq, fromSeq)
    if (fromSeq > 0 && commits.nonEmpty && !commits.last.parentSeq.contains(fromSeq))
      throw new IllegalStateException(
        s"snapshot $fromSeq is not an ancestor of $toSeq (rolled back?) — re-bootstrap from a full read")
    val paths = commits.reverse
      .filterNot(m => m.checkpoint || m.tablesReplaced.contains(table))
      .flatMap(_.tables.getOrElse(table, Seq.empty))
    if (paths.nonEmpty) readPaths(spark, paths, tableSchema(read(toSeq), table))
    else readTableLenient(spark, read(toSeq), table).limit(0) // empty delta, real schema
  }

  /** `toSeq` and its parent lineage down to, not including, the first
    * ancestor at or below `floor`, newest first; empty when `toSeq <= floor`.
    * Reads ONLY manifests above `floor` (a parent's sequence comes from its
    * snapshot id), so a walk floored exactly at the retention floor never
    * touches expired manifests. A `floor > 0` is an ancestor of `toSeq`
    * iff the last manifest's `parentSeq` is `floor`.
    */
  private[graft] def lineage(toSeq: Long, floor: Long): Vector[Manifest] =
    Iterator.unfold(Option(toSeq).filter(_ > floor)) { next =>
      next.map { seq => val m = read(seq); (m, m.parentSeq.filter(_ > floor)) }
    }.toVector

  /** The one-scan read shape shared by every snapshot reader. A recorded
    * `schema` skips parquet footer inference entirely (planning-time I/O
    * that scales with file count) and lets older files surface null for
    * later-added columns. `mergeFooters` is the pre-schema-chain fallback
    * that must see EVERY file's columns (schema-destructive operations like
    * compaction use it — single-footer sampling would drop evolved
    * columns).
    */
  def readPaths(
      spark: SparkSession,
      paths: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      mergeFooters: Boolean = false
  ): DataFrame = {
    val reader = spark.read
      .option("recursiveFileLookup", "true")
      .option("mergeSchema", mergeFooters.toString)
    schema.fold(reader)(reader.schema).parquet(paths: _*)
  }

  /** Read `table` as of `m`, yielding an empty frame with the RECORDED
    * schema when the table has no data paths yet (e.g. `valid` while every
    * row has failed) — throws only on pre-schema chains where the empty
    * frame's schema is unknowable.
    */
  def readTableLenient(spark: SparkSession, m: Manifest, table: String): DataFrame = {
    val paths = tablePaths(m, table)
    if (paths.nonEmpty) readPaths(spark, paths, tableSchema(m, table))
    else tableSchema(m, table) match {
      case Some(st) => spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
      case None     => readTable(spark, m, table) // throws with the explanatory message
    }
  }

  /** Partition-pruned read: commits whose delta doesn't intersect `wanted`
    * contribute NO paths — SURVEY §4's "pruning is explicit file-list
    * construction, not a post-scan filter". The residual in-commit filter
    * only narrows multi-partition batch files.
    *
    * Checkpoint manifests carry the full partition set, so they never prune
    * (the trade of O(1) metadata); prune-heavy readers should read a
    * pre-checkpoint manifest or keep delta chains.
    */
  def readTableForPartitions(spark: SparkSession, m: Manifest, table: String, wanted: Set[Int]): DataFrame = {
    // A replacing (compacted) manifest contributes its paths unconditionally:
    // it holds ALL partitions' rows (file-level skipping comes from the
    // rewrite's partition_id range-clustering + the residual filter below),
    // and the pre-compaction per-partition paths may already be expired.
    val paths = chainFor(m, table)
      .filter(c => c.tablesReplaced.contains(table) || c.partitionsDelta.exists(wanted))
      .flatMap(_.tables.getOrElse(table, Seq.empty))
      .reverse
    require(paths.nonEmpty, s"table $table has no data for partitions $wanted in ${m.snapshotId}")
    readPaths(spark, paths, tableSchema(m, table))
      .filter(org.apache.spark.sql.functions.col("partition_id").isin(wanted.toSeq: _*))
  }
}

object SnapshotLog {

  private val manifestCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Manifest]

  /** Per-root commit lock: serializes same-JVM writers so the sequence
    * assignment + exists/rename pair in [[SnapshotLog.commit]] is exact
    * in-process (cross-process exclusion is the FileSystem rename's job).
    */
  private val rootLocks = scala.collection.concurrent.TrieMap.empty[String, Object]
  private[table] def lockFor(root: String): Object =
    rootLocks.getOrElseUpdate(root, new Object)

  /** The statusd=success subtree of an annotated root (the valid table). */
  def validDir(annotatedPath: String): String =
    s"$annotatedPath/statusd=${graft.model.Status.Success}"

  /** Directories of the failing slices that actually exist (a partitionBy
    * write creates no directory for an absent status).
    */
  def failingDirs(annotatedPath: String, nInvalid: Long, nError: Long): Seq[String] =
    Seq(graft.model.Status.Invalid -> nInvalid, graft.model.Status.Error -> nError)
      .collect { case (st, n) if n > 0 => s"$annotatedPath/statusd=$st" }
}
