package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation,
  PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StructField,
  StructType}

/** The LSM lifecycle shared by every stream-maintained index artifact
  * ([[StreamingRetrieval]]'s BM25 postings, [[StreamingDedupIndex]]'s
  * MinHash signatures): micro-batches append one delta-sized segment each,
  * a manifest tracks the live segment set, and at a threshold the whole
  * set compacts into one segment with dead rows physically dropped —
  * update/delete follow the reference's upsert-kafka contract
  * (`debezium-kafka-flink-sql-ingest/.../KafkaUpsertJob.java:23-38`:
  * latest value per key wins, tombstone = delete), resolved at probe time
  * from per-id batch maxima plus a churn-sized delete-marker table.
  *
  * On-disk layout (underscore names are invisible to parquet partition
  * discovery, so a plain `spark.read.parquet(dir)` of an append-only
  * index keeps working):
  * {{{
  *   dir/seg=a<batchId>/   appended rows (index schema + batch LONG)
  *   dir/seg=c<batchId>/   compacted rows (same schema)
  *   dir/_dels/b<batchId>/ delete markers (<idCol>, batch)
  *   dir/_manifest         "<lastBatch>\n<live segs>\n<live dels>"
  * }}}
  *
  * Exactly-once: segment and marker dirs are named by micro-batch id and
  * written with Overwrite, and the manifest records the last committed
  * batch — a redelivered batch is skipped outright, so a crash between a
  * segment write and the manifest commit replays cleanly (the
  * [[TxReplayStream]] idempotence rule).
  *
  * Concurrent probes vs maintenance: a probe plans against the manifest
  * it read, then scans the referenced dirs LAZILY — on a cluster that
  * scan can run long after the read. Deleting a compacted-away dir at
  * commit would fail such a probe mid-scan with a missing-file error, so
  * dirs a commit stops referencing are instead parked in the manifest's
  * `pending` list and physically deleted only [[GraceBatches]] commits
  * later — any probe that began within the grace window keeps its files.
  * Dirs never referenced by ANY committed manifest (crashed attempts,
  * skipped file-less builds) were never probe-visible and are removed
  * immediately.
  *
  * STORE I/O: this object is also the one file layer under every
  * file-backed streaming store — these segment stores, [[TxReplayStream]]'s
  * per-side segment lists and [[StreamingSketch]]'s versioned sketches:
  *  - the reader, [[readDirs]]: the dirs a manifest names, their data
  *    files listed on the driver, scanned in the schema their writer
  *    declared — no listing or schema-inference job;
  *  - the commit, [[atomicWrite]]: tmp file + atomic move, so a reader
  *    sees the old manifest or the new, never a torn one;
  *  - the prune, [[deleteWhere]]: list a dir once, recursively delete the
  *    entries a store's manifest no longer names.
  */
object SegmentStore {

  /** `pending`: (relative dir, batch at which it became dead) — dead but
    * retained for in-flight probes until the grace window passes.
    * `param`: an opaque pointer to the index family's frozen derivation
    * parameter (e.g. [[StreamingAnnIndex]]'s centroid generation), swapped
    * atomically WITH the segment set by [[rewrite]] so a probe can never
    * pair one generation's parameter with another generation's rows.
    * `held`: the pending entries currently surviving PAST their grace
    * window only because a pin references them — the flag is what lets a
    * later commit tell "this dir's pin just disappeared" (re-stamp it
    * with a fresh grace window) apart from "this dir's own grace just
    * ran out" (delete it now).
    */
  case class Manifest(lastBatch: Long, segs: Seq[String], dels: Seq[String],
                      pending: Seq[(String, Long)] = Nil,
                      param: Option[String] = None,
                      held: Set[String] = Set.empty)

  /** How many further commits a dead dir stays on disk before physical
    * deletion: a probe plans against a manifest snapshot and scans lazily,
    * so any probe that began within the last `GraceBatches` commits keeps
    * its files.
    */
  private val GraceBatches = 2

  private def manifestPath(dir: String): Path = Paths.get(dir, "_manifest")

  /** Shared line-list field parser for the manifest and pin formats (one
    * CSV of names per line; missing/empty line = empty).
    */
  private def parseNames(lines: java.util.List[String], i: Int): Seq[String] =
    if (lines.size <= i || lines.get(i).isEmpty) Nil
    else lines.get(i).split(",").toSeq

  private def parseParam(lines: java.util.List[String], i: Int): Option[String] =
    if (lines.size <= i || lines.get(i).isEmpty) None else Some(lines.get(i))

  /** The one commit for file-backed state: `content` written to a
    * `.<name>.tmp` sibling, then atomically moved onto `target` — a reader
    * sees the old content or the new, never a torn write. This store's
    * manifest and pins, [[TxReplayStream]]'s MANIFEST and
    * [[StreamingSketch]]'s manifest all commit through it.
    */
  private[streaming] def atomicWrite(target: Path, content: String): Unit = {
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp")
    Files.createDirectories(target.getParent)
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def readManifest(dir: String): Manifest = {
    val p = manifestPath(dir)
    if (!Files.exists(p)) return Manifest(-1L, Nil, Nil)
    val lines = Files.readAllLines(p)
    // line 4 (absent in pre-round-9 manifests): pending dirs as
    // name@batch, with a trailing "@h" on entries held by a pin
    val entries = parseNames(lines, 3).map { s =>
      val (core, held) = if (s.endsWith("@h")) (s.dropRight(2), true) else (s, false)
      val at = core.lastIndexOf('@')
      (core.substring(0, at), core.substring(at + 1).toLong, held)
    }
    // line 5: the opaque derivation-parameter pointer; a 6th line (the
    // grace window older commits recorded) is ignored
    Manifest(lines.get(0).trim.toLong, parseNames(lines, 1), parseNames(lines, 2),
      entries.map { case (n, b, _) => (n, b) }, parseParam(lines, 4),
      entries.collect { case (n, _, true) => n }.toSet)
  }

  private def writeManifest(dir: String, m: Manifest): Unit =
    atomicWrite(manifestPath(dir),
      s"${m.lastBatch}\n${m.segs.mkString(",")}\n${m.dels.mkString(",")}\n" +
        m.pending.map { case (n, b) =>
          s"$n@$b" + (if (m.held.contains(n)) "@h" else "") }.mkString(",") +
        "\n" + m.param.getOrElse(""))

  /** A durable, named reference to one committed manifest — the
    * reproducible-corpus primitive: pin the index before a training run,
    * and every read through the pin returns the exact rows that run saw,
    * bit-identical, no matter how many upserts, deletes, compactions, or
    * parameter refreshes the live stream commits afterwards.
    *
    * `manifest` is the pinned commit (pending list empty — a pin
    * references only the dirs a probe reads); `extraDirs` names
    * non-segment artifacts the pinned read also needs (e.g.
    * [[StreamingAnnIndex]]'s frozen centroid generation), protected from
    * the family's own `extraDead` reclamation the same way segments are.
    *
    * Retention: a pinned dir that falls out of the live manifest rides
    * the pending list like any dead dir, but when its grace window
    * expires it is HELD (stays parked) instead of deleted, for as long as
    * any pin references it. [[unpin]] releases the reference; the next
    * maintenance commit's expiry check then reclaims the dirs. Pins
    * therefore cost exactly the disk they reference and nothing else —
    * no copy is ever made.
    *
    * Single-writer, like every maintenance entry point: create and
    * release pins from the thread that owns the stream's commits (e.g.
    * inside the same foreachBatch), never concurrently with one.
    */
  case class Pin(manifest: Manifest, extraDirs: Seq[String])

  private def pinPath(dir: String, name: String): Path =
    Paths.get(dir, "_pins", name)

  private val PinName = "[A-Za-z0-9][A-Za-z0-9._-]*".r

  /** Pin the CURRENT committed manifest under `name`. Fails loudly on an
    * uncommitted index, a name already pinned (pins are immutable — release
    * first if you mean to re-point), or an `extraDirs` entry that does not
    * exist on disk (a typo here would surface as a missing-file error in
    * some far-future pinned read). Returns the pinned manifest.
    */
  def pin(dir: String, name: String, extraDirs: Seq[String] = Nil): Manifest = {
    require(PinName.matches(name),
      s"pin name must match ${PinName.regex}, got '$name'")
    val m = readManifest(dir)
    require(m.lastBatch >= 0L, s"pin needs a committed index at $dir")
    val p = pinPath(dir, name)
    require(!Files.exists(p), s"pin '$name' already exists at $dir (unpin first)")
    extraDirs.foreach { e =>
      require(Files.exists(Paths.get(dir, e)),
        s"pinned extra dir '$e' does not exist under $dir")
    }
    atomicWrite(p,
      s"${m.lastBatch}\n${m.segs.mkString(",")}\n" +
        s"${m.dels.mkString(",")}\n${extraDirs.mkString(",")}\n" +
        m.param.getOrElse(""))
    m.copy(pending = Nil)
  }

  def readPin(dir: String, name: String): Pin = {
    val p = pinPath(dir, name)
    require(Files.exists(p), s"no pin '$name' at $dir")
    val lines = Files.readAllLines(p)
    Pin(Manifest(lines.get(0).trim.toLong, parseNames(lines, 1),
      parseNames(lines, 2), Nil, parseParam(lines, 4)), parseNames(lines, 3))
  }

  def listPins(dir: String): Seq[String] = {
    val base = Paths.get(dir, "_pins")
    if (!Files.exists(base)) Nil
    else list(base).map(_.getFileName.toString).filterNot(_.startsWith(".")).sorted
  }

  /** Release a pin. Deletes only the reference — nothing is reclaimed
    * here. The NEXT maintenance commit notices the held dirs lost their
    * pin and RE-STAMPS them with a fresh grace window (deadAt = that
    * commit's batch), so they are physically deleted [[GraceBatches]]
    * commits after the release is first observed — a probe planned
    * against the pin just before the unpin gets the same slack a
    * live-manifest probe gets, never a mid-scan missing-file error.
    * Unknown names are a no-op, so release is idempotent.
    */
  def unpin(dir: String, name: String): Unit =
    Files.deleteIfExists(pinPath(dir, name))

  /** Every dir any pin references, in pending-list naming (`seg=…`,
    * `_dels/…`, extras verbatim) — the hold set for expiry.
    */
  private[streaming] def pinnedDirs(dir: String): Set[String] =
    listPins(dir).flatMap { n =>
      val p = readPin(dir, n)
      p.manifest.segs ++ p.manifest.dels.map("_dels/" + _) ++ p.extraDirs
    }.toSet

  /** Settle the pending list at a commit: split `entries` (old pending +
    * newly dead, as (dir, deadAt)) into what stays parked and what is
    * physically deleted now. Encodes the full pin retention rule:
    *   - a past-grace dir some pin references is HELD — parked with its
    *     original deadAt (so dashboards see it as past-grace) and flagged
    *     in the manifest's held set;
    *   - a held dir whose pin reference DISAPPEARED since the last commit
    *     is RELEASED — re-stamped to `atBatch` for one fresh grace window
    *     before deletion, so a probe planned against the pin just before
    *     the unpin keeps its files with a live-manifest probe's slack;
    *   - a past-grace dir that is neither pinned nor freshly released is
    *     deleted now.
    * Pin files are read only when something actually expired — a commit
    * with nothing to reclaim costs no extra filesystem reads, keeping the
    * no-pin hot path byte-identical to the pre-pin store.
    */
  private def settlePending(dir: String, entries: Seq[(String, Long)], prevHeld: Set[String],
                            atBatch: Long): (Seq[(String, Long)], Set[String], Seq[String]) = {
    val (expired0, parked0) = entries
      .partition { case (_, deadAt) => deadAt <= atBatch - GraceBatches }
    val pinned = if (expired0.isEmpty) Set.empty[String] else pinnedDirs(dir)
    val (held, unpinned) = expired0.partition { case (n, _) => pinned.contains(n) }
    val (released, dead) = unpinned.partition { case (n, _) => prevHeld.contains(n) }
    (parked0 ++ held ++ released.map { case (n, _) => (n, atBatch) },
      held.map(_._1).toSet, dead.map(_._1))
  }

  /** One dashboard row per pin: the commit it references, how many of
    * its dirs are still live in the CURRENT manifest, parked (dead but
    * still inside the prune grace window — they would survive with zero
    * pins), or held (past grace — on disk ONLY because a pin references
    * them), and the held bytes. `heldBytes` is the number that shows a
    * forgotten pin: the disk releasing this pin would actually hand
    * back at the next commit.
    */
  case class PinReport(name: String, lastBatch: Long, dirs: Int,
                       liveDirs: Int, parkedDirs: Int, heldDirs: Int,
                       heldBytes: Long)

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(Files.size).sum
      } finally s.close()
    }

  /** The operator view of pin retention cost — the "forgotten pin"
    * dashboard: a pin whose `heldBytes` never drops is holding a
    * superseded generation on disk; release it and the next maintenance
    * commit reclaims the space. `liveExtras` names the param artifacts
    * the CURRENT generation still uses (family-specific — e.g.
    * [[StreamingAnnIndex]] passes its centroid + baseline dirs), so a
    * pin of the live generation reports 0 held. A dead dir still inside
    * the [[GraceBatches]] window counts as PARKED, not held — it survives with
    * zero pins, so attributing its bytes to the pin would overstate the
    * signal for any pin younger than the grace window. Dirs held by
    * several pins count toward each (release ALL of them to reclaim).
    */
  def pinReport(dir: String, liveExtras: Seq[String] = Nil): Seq[PinReport] = {
    val m = readManifest(dir)
    val live = m.segs.toSet ++ m.dels.map("_dels/" + _) ++ liveExtras
    val deadAt = m.pending.toMap
    def inGrace(n: String): Boolean =
      deadAt.get(n).exists(_ > m.lastBatch - GraceBatches)
    listPins(dir).map { n =>
      val p = readPin(dir, n)
      val refs = p.manifest.segs ++ p.manifest.dels.map("_dels/" + _) ++ p.extraDirs
      val (liveRefs, dead) = refs.partition(live.contains)
      val (parked, held) = dead.partition(inGrace)
      PinReport(n, p.manifest.lastBatch, refs.size, liveRefs.size, parked.size,
        held.size, held.map(h => dirBytes(Paths.get(dir, h))).sum)
    }
  }

  /** The one recursive delete for file-backed state: [[deleteWhere]],
    * [[TxReplayStream]]'s staging, and ScaleQueries' scratch stores.
    * Tolerant: an entry already gone is skipped, not an error.
    */
  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** The entries of `dir`, listed once. */
  private def list(dir: Path): Seq[Path] = {
    val ls = Files.list(dir)
    try ls.toArray.toSeq.map(_.asInstanceOf[Path]) finally ls.close()
  }

  /** The one prune for file-backed state: recursively delete every entry of
    * `dir` whose name `dead` selects (a missing `dir` is a no-op). Each
    * store decides from its own committed manifest which names are dead.
    */
  private[streaming] def deleteWhere(dir: Path)(dead: String => Boolean): Unit =
    if (Files.exists(dir))
      list(dir).filter(p => dead(p.getFileName.toString)).foreach(deleteRecursively)

  /** Drop dirs the committed manifest references neither as live nor as
    * pending-delete: expired grace-window entries (the caller already
    * removed them from `pending`) and never-committed leftovers of a
    * crashed attempt — the latter were never probe-visible, so immediate
    * removal is safe.
    */
  private def prune(dir: String, m: Manifest): Unit = {
    val (pendDels, pendSegs) = m.pending.map(_._1).partition(_.startsWith("_dels/"))
    val keepSegs = m.segs.toSet ++ pendSegs
    val keepDels = m.dels.toSet ++ pendDels.map(_.stripPrefix("_dels/"))
    deleteWhere(Paths.get(dir))(n => n.startsWith("seg=") && !keepSegs.contains(n))
    deleteWhere(Paths.get(dir, "_dels"))(n => !keepDels.contains(n))
  }

  private def delSchema(idCol: String) = StructType(Seq(
    StructField(idCol, LongType), StructField("batch", LongType)))

  /** A data file, by the rule Spark's own listing applies: every name but
    * `_`/`.` ones (`_SUCCESS`, `.crc` checksums).
    */
  private def isDataFile(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** A written segment dir can be FILE-LESS: Spark writes no parquet part
    * files when the plan produced zero rows (buildSegment may drop every
    * input row — e.g. MinHash shingling filters short docs), and a
    * file-less dir cannot be re-read. Registering one in the manifest
    * would poison every later readSegments. "Data file" is
    * [[readDirs]]'s rule.
    */
  private[streaming] def hasParquetFiles(dir: Path): Boolean = list(dir).exists(isDataFile)

  private def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema)

  /** Scan parquet dirs whose names and schema the caller already knows —
    * the dirs a store's manifest (or its own just-finished write) names,
    * in the schema their writer declared. `spark.read.parquet` would
    * re-discover both: a one-task schema-inference job per read, and past
    * `parallelPartitionDiscovery.threshold` (32) dirs a parallel listing
    * job. Here the data files are listed on the driver (the dirs hold a
    * handful of files each) and handed to Spark as a fixed file manifest,
    * so building the read launches no job. Only the named dirs are read,
    * never their siblings: a stale dir a crash left beside live ones stays
    * invisible. Like a parquet read, the result's columns are all
    * nullable; a column the files lack reads null. No dirs → an empty
    * local relation of `schema`, which the optimizer folds away (a probe's
    * liveness join against zero delete markers plans as nothing).
    */
  private[streaming] def readDirs(spark: SparkSession, dirs: Seq[String],
                                  schema: StructType): DataFrame =
    if (dirs.isEmpty) emptyDf(spark, schema)
    else spark.baseRelationToDataFrame(HadoopFsRelation(new KnownFiles(dirs),
      new StructType(), nullable(schema).asInstanceOf[StructType], None,
      new ParquetFileFormat(), Map.empty)(spark))

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** An unpartitioned [[FileIndex]] over the data files of `dirs`, listed
    * once, at construction (a missing dir fails here, as a parquet read of
    * it would).
    */
  private final class KnownFiles(dirs: Seq[String]) extends FileIndex {
    private val files: Seq[FileStatus] = dirs.flatMap(d => list(Paths.get(d)).filter(isDataFile))
      .map(p => new FileStatus(Files.size(p), false, 1, 0L,
        Files.getLastModifiedTime(p).toMillis, new HPath(p.toUri)))
    override def rootPaths: Seq[HPath] = dirs.map(d => new HPath(Paths.get(d).toUri))
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.toArray))
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }

  /** `df` cast column by column to `schema` (in its order), `batch`
    * excepted — the store appends that. A segment build whose column types
    * follow its caller's input (an INT id) still writes the declared types
    * every read assumes.
    */
  private[streaming] def conform(schema: StructType)(df: DataFrame): DataFrame =
    df.select(schema.fields.toIndexedSeq.filter(_.name != "batch")
      .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)

  /** Live segment rows under the committed manifest, per-row `batch`
    * included; `schema` is returned for an index with no segments yet.
    */
  def readSegments(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    readSegments(spark, dir, schema, readManifest(dir))

  /** [[readSegments]] against an already-read manifest SNAPSHOT — the
    * coherent-probe form. A probe that resolves segments, delete markers,
    * and the frozen parameter through SEPARATE `readManifest` calls can
    * interleave with a maintenance commit and pair one generation's
    * parameter with another generation's rows; reading the manifest once
    * and passing it to every part pins the whole probe to one commit
    * (whose files stay on disk through the prune grace window).
    */
  def readSegments(spark: SparkSession, dir: String, schema: StructType,
                   m: Manifest): DataFrame =
    readDirs(spark, m.segs.map(s => s"$dir/$s"), schema)

  /** Live delete markers — schema (`idCol`, batch). */
  def readDels(spark: SparkSession, dir: String, idCol: String): DataFrame =
    readDels(spark, dir, idCol, readManifest(dir))

  /** [[readDels]] against an already-read manifest snapshot (see the
    * [[readSegments]] snapshot overload).
    */
  def readDels(spark: SparkSession, dir: String, idCol: String,
               m: Manifest): DataFrame =
    readDirs(spark, m.dels.map(d => s"$dir/_dels/$d"), delSchema(idCol))

  /** True iff re-evaluating `df` repeats real computation — an uncached
    * plan containing an aggregation, generator, join, or window. Probes
    * use this to decide whether a small derived dimension consumed by
    * several branches deserves its own cache fence: an INLINE-BUILT
    * segment frame (postings/assignment builds composed in the query)
    * re-runs its whole build per consumer, while an already-cached frame
    * or a plain file-backed store scan re-reads cheaply and a fence is
    * pure overhead (both regressions measured, r14).
    */
  def costlyToRecompute(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.storageLevel == org.apache.spark.storage.StorageLevel.NONE &&
      df.queryExecution.optimizedPlan.collectFirst {
        case a: Aggregate => a
        case g: Generate => g
        case j: Join => j
        case w: Window => w
      }.isDefined
  }

  /** The two liveness predicates, as joins against churn-sized side tables
    * derived from the per-id version list `versions` ((idCol, batch),
    * distinct): a row is live iff it belongs to its id's LATEST version
    * (latest-wins upsert) and no delete marker is newer than it
    * (delete-then-reinsert resurrects). No broadcast hints — churn is
    * usually small and AQE broadcasts it, but its size is data-dependent.
    */
  def liveFilter(rows: DataFrame, versions: DataFrame, dels: DataFrame,
                 idCol: String): DataFrame = {
    val multi = versions.groupBy(idCol)
      .agg(max("batch").as("live_b"), count(lit(1)).as("nv"))
      .filter(col("nv") > 1).select(idCol, "live_b")
    val delMax = dels.groupBy(idCol).agg(max("batch").as("del_b"))
    rows.join(multi, Seq(idCol), "left")
      .filter(col("live_b").isNull || col("batch") === col("live_b"))
      .join(delMax, Seq(idCol), "left")
      .filter(col("del_b").isNull || col("del_b") <= col("batch"))
      .drop("live_b", "del_b")
  }

  /** Resolve segment rows to the live set: superseded versions and deleted
    * ids dropped, `batch` column retained. The compaction input/output
    * shape; probes that can reduce by a broadcast FIRST (e.g. BM25's query
    * tokens) should apply [[liveFilter]] to the reduced side instead.
    */
  def liveRows(segs: DataFrame, dels: DataFrame, idCol: String): DataFrame =
    liveFilter(segs, segs.select(idCol, "batch").distinct(), dels, idCol)

  /** Apply one micro-batch of changes to the index at `dir`. Rows with
    * `opCol` = "d" are deletes (payload ignored), all others upserts; at
    * most one row per id per batch (the upsert-kafka granularity).
    * `buildSegment` turns the batch's upsert rows into index rows (the
    * store appends the `batch` column); `inputIdCol` names the id in the
    * BATCH rows, `idCol` the id in the SEGMENT rows (delete markers are
    * normalized to the latter, as LONG). Batches at or below the
    * manifest's committed id are skipped (redelivery).
    */
  def processBatch(docs: DataFrame, batchId: Long, dir: String,
                   inputIdCol: String, idCol: String, opCol: Option[String],
                   compactSegments: Int,
                   buildSegment: DataFrame => DataFrame): Unit = {
    require(compactSegments >= 2, s"compactSegments must be >= 2, got $compactSegments")
    val spark = docs.sparkSession
    val m = readManifest(dir)
    if (batchId <= m.lastBatch) return // redelivered, already committed

    val batch = docs.cache()
    try {
      val upserts = opCol.fold(batch)(c => batch.filter(col(c) =!= "d"))
      val deletes = opCol.fold(batch.limit(0))(c => batch.filter(col(c) === "d"))

      var segs = m.segs
      var dels = m.dels
      // the segment build's analyzed plan is the schema every segment of
      // this store was written in — what the compaction read scans with
      val seg = buildSegment(upserts).withColumn("batch", lit(batchId))
      if (upserts.limit(1).count() > 0) {
        val name = s"seg=a$batchId"
        seg.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name")
        // buildSegment may have dropped every row → file-less dir; leave
        // it out of the manifest (prune removes the dir on commit)
        if (hasParquetFiles(Paths.get(dir, name))) segs :+= name
      }
      if (deletes.limit(1).count() > 0) {
        val name = s"b$batchId"
        deletes.select(col(inputIdCol).cast(LongType).as(idCol), lit(batchId).as("batch"))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/_dels/$name")
        dels :+= name
      }

      // dels count toward the trigger too: a delete-heavy stream adds
      // marker dirs (probe-side delMax inputs) without adding segments
      // and must still reach compaction, which clears them
      val next0 =
        if (segs.size + dels.size < compactSegments) Manifest(batchId, segs, dels)
        else if (segs.isEmpty) {
          // markers with no segments are inert (a marker only suppresses
          // STRICTLY OLDER batches' rows, and none exist) — clear them
          Manifest(batchId, Nil, Nil)
        } else {
          // threshold compaction: resolve liveness over the whole segment
          // set once, write ONE segment, clear the delete markers (their
          // dead rows are physically gone). Named by batch id — same
          // Overwrite idempotence as appends.
          val name = s"seg=c$batchId"
          val cur = Manifest(batchId, segs, dels)
          liveRows(readSegments(spark, dir, seg.schema, cur),
            readDels(spark, dir, idCol, cur), idCol)
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/$name")
          // everything deleted → a file-less dir that cannot be reread;
          // commit an empty segment list instead (prune removes the dir)
          Manifest(batchId,
            if (hasParquetFiles(Paths.get(dir, name))) Seq(name) else Nil, Nil)
        }
      val next = next0.copy(param = m.param) // the frozen parameter rides along
      // dirs this commit stops referencing were visible to probes of the
      // OLD manifest → park them in the grace window instead of deleting;
      // expired entries are settled by the pin retention rule (held /
      // released / deleted — see settlePending) and prune removes
      // whatever the written manifest no longer mentions
      val newlyDead =
        (m.segs.filterNot(next.segs.contains) ++
          m.dels.filterNot(next.dels.contains).map("_dels/" + _)).map((_, batchId))
      val (parked, held, dead) = settlePending(dir, m.pending ++ newlyDead,
        m.held, batchId)
      writeManifest(dir, next.copy(pending = parked, held = held))
      dead.foreach(n => deleteRecursively(Paths.get(dir, n)))
      prune(dir, next.copy(pending = parked))
    } finally batch.unpersist()
  }

  /** Offline full rewrite of the index under a NEW derivation parameter —
    * the re-parameterization half of the lifecycle (threshold compaction
    * handles volume; this handles e.g. [[StreamingAnnIndex]]'s centroid
    * refresh, where every row must be re-derived because the routing
    * parameter moved). Resolves the live rows once, re-derives them with
    * `buildRows` (which receives rows WITH their `batch` column and must
    * return schema-complete segment rows, `batch` included), writes ONE
    * segment, and commits segments + `newParam` in a single atomic
    * manifest swap — a probe can never pair the new parameter with old
    * rows or vice versa. Delete markers are cleared (their dead rows are
    * physically gone, as in compaction); `extraDead` names additional
    * dirs (e.g. the old parameter artifact) to park in the same grace
    * window as the replaced segments.
    *
    * `lastBatch` is NOT advanced — a rewrite is not a data batch, and the
    * stream's redelivery contract stays untouched. Single-writer like
    * [[processBatch]]: the caller serializes rewrites with the stream
    * (e.g. from inside the same foreachBatch). A crashed rewrite leaves
    * an unreferenced dir that the next commit prunes; a retry picks a
    * fresh segment name.
    */
  def rewrite(spark: SparkSession, dir: String, schema: StructType,
              idCol: String, buildRows: DataFrame => DataFrame,
              newParam: Option[String], extraDead: Seq[String] = Nil): Unit = {
    val m = readManifest(dir)
    require(m.lastBatch >= 0L, s"rewrite needs a committed index at $dir")
    val live = liveRows(readSegments(spark, dir, schema),
      readDels(spark, dir, idCol), idCol)
    // unique name per attempt: repeated rewrites at the same commit point
    // (or a retry after a crash) must never overwrite a dir a live or
    // parked manifest entry still references
    val taken = (m.segs ++ m.pending.map(_._1)).toSet
    var n = 0
    def candidate = s"seg=r${m.lastBatch}x$n"
    while (taken.contains(candidate) || Files.exists(Paths.get(dir, candidate))) n += 1
    val name = candidate
    buildRows(live).write.mode(SaveMode.Overwrite).parquet(s"$dir/$name")
    val next = Manifest(m.lastBatch,
      if (hasParquetFiles(Paths.get(dir, name))) Seq(name) else Nil, Nil,
      param = newParam.orElse(m.param))
    val newlyDead =
      (m.segs.filterNot(next.segs.contains) ++ m.dels.map("_dels/" + _) ++
        extraDead).map((_, m.lastBatch))
    // same settle rule as processBatch: pinned dirs survive their grace
    // expiry (what keeps a pinned centroid generation readable after the
    // refresh that parked it via extraDead), released holds get a fresh
    // grace window, and pins are read only when something expired
    val (parked, held, dead) = settlePending(dir, m.pending ++ newlyDead,
      m.held, m.lastBatch)
    writeManifest(dir, next.copy(pending = parked, held = held))
    dead.foreach(nm => deleteRecursively(Paths.get(dir, nm)))
    prune(dir, next.copy(pending = parked))
  }
}
