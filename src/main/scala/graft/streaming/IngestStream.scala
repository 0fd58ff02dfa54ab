package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.catalog.Catalog
import graft.schema.CollectionSpec

/** Structured-Streaming ingest — the Spark-native form of the reference's
  * RabbitMQ consumer loop (S1, /root/reference/libnntsc/parsers/amp.py:181-273
  * + pikaqueue.py) and its transactional batch-commit contract (X9).
  *
  * Shape: source stream → per-batch (foreachBatch, [[ingestBatch]]):
  *   1. normalize rows (the per-collection A15-A17 reductions, applied by
  *      the caller's `normalize` function);
  *   2. resolve/register streams (X6, database.py:731-787) from the
  *      normalized tuples: collect the streams dimension, allocate ids for
  *      new tuples on the driver, APPEND only those rows (O(|new|) per
  *      batch; `compactStreams` periodically folds the append files);
  *   3. append to the partitioned data table, then hand the committed rows
  *      to the caller's consumers.
  *
  * Exactly-once: checkpointed offsets + idempotent epoch-keyed appends
  * replace the reference's commit+ack (at-least-once with redelivery,
  * amp.py:190-273). Each micro-batch writes its rows under a `__epoch=N`
  * partition with dynamic partition overwrite, so a batch replayed after a
  * mid-write failure REPLACES its own partition instead of double-appending
  * — the storage-level idempotence that upgrades foreachBatch's
  * at-least-once delivery to effective exactly-once. `commitfreq`-style
  * batching maps to the micro-batch trigger.
  *
  * The streams dimension append is convergent rather than idempotent: a
  * replayed batch finds its tuples already registered and registers
  * nothing new, so replay cannot duplicate or re-id streams.
  *
  * The RRD file scraper (S2, parsers/rrd.py:107-238) is the same shape with
  * a file source: `spark.readStream.schema(…).parquet/csv(dir)` +
  * `Trigger.ProcessingTime("30 seconds")` — checkpointed file offsets
  * replace the reference's lasttimestamp/revert bookkeeping.
  */
object IngestStream {

  /** Streams-dimension storage: tiny append-mostly parquet table
    * (dimension is broadcast-size by design; the fact table is the big
    * one) folded periodically under the generation protocol below.
    */
  /** Per-path compactor locks: maintenance runs serialize per LAYOUT (or
    * streams-dimension) directory, not globally — one collection's
    * multi-second merge window must not block another collection's mere
    * file listing, and readers of unrelated dirs must not serialize
    * against each other. Keyed by absolute path. (Single-writer across
    * PROCESSES stays the documented deployment contract, as for every
    * compactor here.)
    */
  private val swapLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graft] def swapLock(path: String): Object =
    swapLocks.computeIfAbsent(new java.io.File(path).getAbsolutePath, _ => new Object)

  /** Streams-dimension generation protocol (the layout/tier discipline
    * applied to the last rename-swap): per-batch registrations APPEND
    * small part files at the dir root; `compactStreams` folds the visible
    * dimension into `_gen=<k>` (underscore prefix: whole-dir parquet
    * listings skip it, so the gen dir can never be mistaken for a
    * partition column), records the covered root files in
    * `_covered_gen_<k>`, and COMMITS by atomically creating
    * `_committed_gen_<k>`. Superseded generations and covered root files
    * stay on disk one full maintenance cycle (invisible — readers exclude
    * them via the manifest) before the next run's grace GC deletes them,
    * so a reader plan built just before a commit keeps resolving its
    * files. No rename anywhere: object-store-safe, and no `.bak` window
    * in which a crash makes the dimension transiently unreadable.
    */
  private def streamsGenDir(path: String, k: Long) =
    new java.io.File(path, s"_gen=$k")
  private def streamsGenMarker(path: String, k: Long) =
    new java.io.File(path, s"_committed_gen_$k")
  private def streamsGenManifest(path: String, k: Long) =
    new java.io.File(path, s"_covered_gen_$k")

  /** Committed generation ids, ascending. */
  private[graft] def committedStreamGens(path: String): Seq[Long] = {
    val d = new java.io.File(path)
    if (!d.exists || d.listFiles == null) Nil
    else d.listFiles.toSeq.map(_.getName)
      .collect { case n if n.startsWith("_committed_gen_") =>
        n.stripPrefix("_committed_gen_").toLong
      }
      .sorted
  }

  /** Root file names generation `k` covers (empty if no manifest). */
  private def coveredByGen(path: String, k: Long): Set[String] = {
    val f = streamsGenManifest(path, k)
    if (!f.exists) Set.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty).toSet finally src.close()
    }
  }

  /** Per-batch append part files at the dimension root. */
  private def streamRootFiles(path: String): Seq[java.io.File] = {
    val d = new java.io.File(path)
    if (!d.exists || d.listFiles == null) Nil
    else d.listFiles.toSeq.filter(f => f.isFile && f.getName.endsWith(".parquet"))
  }

  def readStreams(spark: SparkSession, path: String, spec: CollectionSpec): DataFrame = {
    // DEPRECATED legacy state detection (was: auto-restore). The
    // pre-generation compactor swapped via renames (live dir -> `.bak`,
    // compacted `.tmp` -> live); a crash between the two renames left the
    // dimension ONLY in `.bak`. Earlier rounds auto-restored with a
    // rename — the last `renameTo` in the tree. Every store has had a
    // full round of generation-format compaction since, so the branch is
    // retired: the state now FAILS FAST with migration instructions.
    // Reading it as empty is not an option — the next batch would
    // silently re-allocate stream ids from 1 and corrupt every
    // collection referencing the dimension.
    val bak = new java.io.File(path + ".bak")
    if (committedStreamGens(path).isEmpty && streamRootFiles(path).isEmpty &&
        bak.exists && bak.listFiles != null &&
        bak.listFiles.exists(_.getName.endsWith(".parquet")))
      throw new IllegalStateException(
        s"readStreams: $path is empty but $bak holds a pre-generation " +
          "streams dimension (a crash mid-swap of the retired rename " +
          "protocol). Auto-restore was removed; migrate once by moving " +
          s"the parquet files from $bak into $path (and deleting any " +
          s"$path.tmp leftover) — the generation protocol takes over " +
          "from there.")
    // newest committed generation + the root append files it does NOT
    // cover; covered-but-not-yet-GC'd files are excluded via the
    // manifest, uncommitted generation dirs are invisible by construction
    val gens = committedStreamGens(path)
    val paths = gens.lastOption match {
      case Some(k) =>
        val covered = coveredByGen(path, k)
        streamsGenDir(path, k).getPath +:
          streamRootFiles(path).filterNot(f => covered(f.getName)).map(_.getPath)
      case None =>
        streamRootFiles(path).map(_.getPath)
    }
    // the declared schema spares a footer-inference job per read; an
    // empty dimension is a local relation, so collecting it runs no job
    if (paths.nonEmpty)
      spark.read.schema(spec.streamSchema).parquet(paths: _*)
    else
      spark.createDataFrame(java.util.Collections.emptyList[Row](), spec.streamSchema)
  }

  /** S1 message decoding — the reference's consumer parses AMP result
    * messages off RabbitMQ into property+measurement dicts
    * (amp.py:181-273 + pikaqueue.py). Spark-native: any line source (file,
    * socket, Kafka) delivers a string `value` column; the collection's raw
    * schema decodes it in one codegen'd `from_json`. Returns
    * (decoded rows, dead letters): undecodable lines become NULL structs
    * and are routed out explicitly rather than dropped silently (the
    * corrupt-message guard, amp.py:203-210).
    */
  def decodeJson(
      messages: DataFrame,
      spec: CollectionSpec,
      valueCol: String = "value"): (DataFrame, DataFrame) = {
    val parsed = messages.withColumn("__m", from_json(col(valueCol), spec.rawSchema))
    // PERMISSIVE from_json renders a corrupt line as an all-NULL struct; a
    // real result always carries at least its property tuple + timestamp
    val corrupt = col("__m").isNull ||
      spec.rawSchema.fieldNames.map(n => col(s"__m.$n").isNull).reduce(_ && _)
    val good = parsed.filter(!corrupt).select(col("__m.*"))
    val dead = parsed.filter(corrupt).select(col(valueCol))
    (good, dead)
  }

  /** Read the data table back without the ingest bookkeeping column. */
  def readData(spark: SparkSession, dataPath: String): DataFrame = {
    val df = spark.read.parquet(dataPath)
    if (df.columns.contains(EpochCol)) df.drop(EpochCol) else df
  }

  /** Fold settled ingest epochs into the query-optimized Layout table
    * (sbucket/day partitions, rows sorted for row-group pruning) and drop
    * their epoch directories — the landing-zone → warehouse compaction
    * every streaming table needs: the epoch layout is write-optimized
    * (idempotent replay), the Layout is read-optimized; queries use
    * `readCombined` and never see the seam.
    *
    * Epochs strictly BELOW `settledBelow` compact (recent epochs stay
    * replayable for the streaming query's retry window). Single-writer.
    *
    * CRASH-ATOMIC via a commit marker: each run writes its rows under
    * `layoutPath/cset=<settledBelow>/…` and then atomically creates
    * `_committed_cset_<settledBelow>` — readers only see committed csets,
    * and take `max(committed cset)` as the landing-zone visibility cutoff
    * (epochs below it are ignored even if not yet deleted). So a crash
    * before the marker leaves an invisible orphan dir (deleted on the next
    * run), a crash after it leaves already-hidden epoch dirs (GC'd on the
    * next run); at no point can a reader double-count. `onStep` is the
    * crash-injection seam for the spec.
    */
  def compactToLayout(
      spark: SparkSession,
      dataPath: String,
      layoutPath: String,
      settledBelow: Long,
      buckets: Int = graft.storage.Layout.DefaultBuckets,
      onStep: String => Unit = _ => ()): Unit = {
    val layoutDir = new java.io.File(layoutPath)
    // recovery: a cset dir without its marker is a dead previous attempt
    // (covered csets pending grace-period GC still HAVE their markers
    // until mergeCsets retires marker and dir together, so they are
    // never swept here by mistake)
    if (layoutDir.exists && layoutDir.listFiles != null) {
      val committed = committedCsets(layoutPath).toSet
      layoutDir.listFiles
        .filter(f => f.isDirectory && f.getName.matches("cset=\\d+"))
        .filter(f => !committed(f.getName.stripPrefix("cset=").toLong))
        .foreach(deleteRecursively)
    }
    // a merged generation may have retired the cset markers: the cutoff
    // is the max over BOTH marker families
    val already = layoutCutoff(layoutPath)
    if (settledBelow > already) {
      val settled = spark.read.parquet(dataPath) // partition-pruned below
        .filter(col(EpochCol) >= already && col(EpochCol) < settledBelow)
      if (!settled.isEmpty) {
        graft.storage.Layout.writeData(
          settled.drop(EpochCol), s"$layoutPath/cset=$settledBelow", buckets)
        onStep("layout-written")
        // COMMIT POINT: atomic file creation flips visibility
        if (!new java.io.File(layoutDir, s"_committed_cset_$settledBelow").createNewFile())
          throw new java.io.IOException(s"cset marker $settledBelow already exists")
        onStep("committed")
      }
    }
    // GC with the ONE-CYCLE GRACE the merge/fold/retention paths use:
    // delete only epoch dirs below the cutoff AS OF ENTRY (`already`) —
    // invisible for at least one full maintenance cycle. The epochs this
    // run just committed stay on disk (invisible via the cutoff filter)
    // until the NEXT cycle, so a reader whose plan listed them moments
    // before the commit never hits FileNotFoundException mid-scan.
    // Registry-pinned epochs (Snapshot.pin ttlMs > 0) additionally
    // survive until their pin's TTL passes.
    val pinnedEpochs = graft.storage.Snapshot.activePins(layoutPath).epochs
    val dataDir = new java.io.File(dataPath)
    if (dataDir.exists && dataDir.listFiles != null)
      dataDir.listFiles
        .filter { f =>
          f.isDirectory && f.getName.startsWith(s"$EpochCol=") && {
            val e = f.getName.stripPrefix(s"$EpochCol=").toLong
            e < already && !pinnedEpochs(e)
          }
        }
        .foreach(deleteRecursively)
  }

  /** Fold the layout's visible sources into ONE merged generation — the
    * MAJOR compaction above [[compactToLayout]]'s minor one. Each minor
    * run adds a `cset=<N>` dir; after months of micro-batch ingest a read
    * unions thousands of them (directory-listing and small-file explosion
    * at 100 TB — the LSM-tree problem, same cure).
    *
    * RENAME-FREE generation protocol (object stores have no atomic
    * rename, and a rename breaks every reader plan whose file listing
    * predates it):
    *
    *   1. grace-period GC (under the lock): drop generations superseded
    *      at least one full maintenance cycle ago, the cset dirs a
    *      committed generation covers, and marker-less crashed attempts;
    *   2. write the union of the visible sources (newest `mset=<k>` +
    *      csets above its cutoff) re-bucketed/re-sorted to `mset=<k+1>`
    *      — invisible: no marker yet;
    *   3. create `_committed_mset_<k+1>_<cutoff>` — ATOMIC COMMIT POINT.
    *
    * No step mutates or renames a live directory, so a reader plan built
    * at ANY point keeps resolving its listed files for at least one full
    * cycle after the merge lands (step 1 of the NEXT run is the first
    * thing that touches them). A crash before step 3 leaves an invisible
    * orphan dir (swept by the next run's step 1); there is nothing to
    * roll back. Single-writer across processes, and not concurrent with
    * the minor compactor — the same deployment contract as every
    * compactor here.
    */
  def mergeCsets(
      spark: SparkSession,
      layoutPath: String,
      buckets: Int = graft.storage.Layout.DefaultBuckets,
      onStep: String => Unit = _ => ()): Unit = {
    val layoutDir = new java.io.File(layoutPath)
    if (!layoutDir.exists || layoutDir.listFiles == null) return
    gcLayout(layoutPath)
    onStep("gc-done")
    val (newest, liveCsets) = visibleSources(layoutPath)
    if (newest.size + liveCsets.size < 2) return // nothing to fold
    val gen = newest.map(_._1).getOrElse(0L) + 1
    val cutoff = (liveCsets ++ newest.map(_._2)).max
    // >= 2 sources guaranteed above, so this is always defined
    val merged = readLayoutSources(spark, layoutPath, newest, liveCsets).get
    graft.storage.Layout.writeData(merged, s"$layoutPath/mset=$gen", buckets)
    onStep("merged-written")
    // COMMIT POINT: one atomic marker creation flips the whole generation
    if (!new java.io.File(layoutDir, s"_committed_mset_${gen}_$cutoff").createNewFile())
      throw new java.io.IOException(s"mergeCsets: mset marker $gen already exists")
    onStep("committed")
  }

  /** Grace-period GC of the merge protocol's leftovers: generations
    * superseded by a newer committed one, the cset dirs the newest
    * generation covers, and marker-less crashed attempts. Runs at the
    * START of every maintenance cycle (and of every merge), so anything
    * it deletes has been invisible-but-resolvable for at least one full
    * cycle — the window reader plans built before the last commit needed
    * to finish their scans. Markers are deleted BEFORE their dirs: a
    * marker whose dir is gone would break readers, a dir whose marker is
    * gone is a plain orphan.
    */
  private[graft] def gcLayout(layoutPath: String): Unit = {
    val layoutDir = new java.io.File(layoutPath)
    if (!layoutDir.exists || layoutDir.listFiles == null) return
    swapLock(layoutPath).synchronized {
      // registry pins (Snapshot.pin ttlMs > 0) defer retirement of their
      // sources until the TTL passes: marker AND dir both survive — a
      // marker whose dir outlives it would strand the dir as an "orphan"
      // for the crashed-attempt sweep below. Superseded-but-pinned
      // sources stay invisible (visibleSources keys on the newest
      // generation), so only the snapshot's own read reaches them.
      val pinned = graft.storage.Snapshot.activePins(layoutPath)
      val msets = committedMsets(layoutPath)
      val newestCutoff = msets.lastOption.map(_._2).getOrElse(Long.MinValue)
      msets.dropRight(1).filterNot(m => pinned.msets(m._1)).foreach { case (k, c) =>
        new java.io.File(layoutDir, s"_committed_mset_${k}_$c").delete()
        deleteRecursively(new java.io.File(layoutDir, s"mset=$k"))
      }
      committedCsets(layoutPath).filter(_ <= newestCutoff)
        .filterNot(pinned.csets).foreach { c =>
          new java.io.File(layoutDir, s"_committed_cset_$c").delete()
          deleteRecursively(new java.io.File(layoutDir, s"cset=$c"))
        }
      val committedGens = committedMsets(layoutPath).map(_._1).toSet
      layoutDir.listFiles
        .filter(f => f.isDirectory && f.getName.matches("mset=\\d+"))
        .filter(f => !committedGens(f.getName.stripPrefix("mset=").toLong))
        .foreach(deleteRecursively)
    }
  }

  /** Committed merged generations as (gen, covered-cutoff), ascending by
    * gen (the `_committed_mset_<k>_<cutoff>` markers).
    */
  private[graft] def committedMsets(layoutPath: String): Seq[(Long, Long)] =
    committedMarkers(layoutPath)._1

  /** Both marker families from ONE directory listing — Snapshot.pin needs
    * the generation set and the cset set as a consistent cut (two separate
    * listings can straddle a concurrent cset commit and pin a view that
    * double-counts the epochs the new cset just covered).
    */
  private[graft] def committedMarkers(
      layoutPath: String): (Seq[(Long, Long)], Seq[Long]) = {
    val d = new java.io.File(layoutPath)
    val names =
      if (!d.exists || d.listFiles == null) Seq.empty[String]
      else d.listFiles.toSeq.map(_.getName)
    val msets = names
      .filter(_.startsWith("_committed_mset_"))
      .map { n =>
        val parts = n.stripPrefix("_committed_mset_").split("_")
        (parts(0).toLong, parts(1).toLong)
      }
      .sortBy(_._1)
    val csets = names
      .filter(_.startsWith("_committed_cset_"))
      .map(_.stripPrefix("_committed_cset_").toLong)
      .sorted
    (msets, csets)
  }

  /** Landing-zone visibility cutoff: epochs below it live in the layout
    * (as csets or inside a merged generation).
    */
  private[graft] def layoutCutoff(layoutPath: String): Long =
    (committedCsets(layoutPath) ++ committedMsets(layoutPath).map(_._2))
      .foldLeft(0L)(math.max)

  /** The layout's visible sources: the newest committed generation (if
    * any) and the csets above its covered cutoff. Covered csets may still
    * exist on disk (grace-period GC pending) — they are EXCLUDED here, so
    * their rows are never double-counted.
    */
  private[graft] def visibleSources(
      layoutPath: String): (Option[(Long, Long)], Seq[Long]) = {
    val newest = committedMsets(layoutPath).lastOption
    val floor = newest.map(_._2).getOrElse(Long.MinValue)
    (newest, committedCsets(layoutPath).filter(_ > floor))
  }

  /** One DataFrame over the visible layout sources (None when there are
    * none). The cset part keeps its single multi-root relation under the
    * layout basePath; the mset part is rooted at its own dir (a shared
    * basePath would parse `mset=`/`cset=` as conflicting partition
    * columns). Days tombstoned by retention are pruned here — `day` is a
    * partition column, so the NOT-IN is a metadata-only filter; the
    * tombstoned dirs linger one maintenance cycle for in-flight scans
    * (Retention.expireDays' grace protocol).
    */
  private[graft] def readLayoutSources(
      spark: SparkSession,
      layoutPath: String,
      newest: Option[(Long, Long)],
      liveCsets: Seq[Long],
      // live reads prune the CURRENT tombstone set; a pinned snapshot
      // passes the set captured at pin time for reproducibility
      expiredOverride: Option[Set[String]] = None): Option[DataFrame] = {
    val expired =
      expiredOverride.getOrElse(graft.storage.Retention.expiredDays(layoutPath))
    def pruneExpired(df: DataFrame): DataFrame =
      if (expired.isEmpty) df
      else df.filter(!col("day").isin(expired.toSeq: _*))
    val csetPart =
      if (liveCsets.isEmpty) None
      else Some(
        pruneExpired(
          spark.read
            .option("basePath", layoutPath)
            .parquet(liveCsets.map(c => s"$layoutPath/cset=$c"): _*))
          .drop("cset", "sbucket", "day"))
    val msetPart = newest.map { case (k, _) =>
      val p = s"$layoutPath/mset=$k"
      pruneExpired(spark.read.option("basePath", p).parquet(p))
        .drop("sbucket", "day")
    }
    (msetPart, csetPart) match {
      case (Some(m), Some(c)) => Some(m.unionByName(c))
      case (m, c)             => m.orElse(c)
    }
  }

  /** Committed compaction-set ids, ascending (the `_committed_cset_<N>`
    * markers in the layout dir).
    */
  private[graft] def committedCsets(layoutPath: String): Seq[Long] =
    committedMarkers(layoutPath)._2

  /** The serving view: committed Layout csets + epochs at or above the
    * visibility cutoff (= max committed cset). Epoch dirs below the cutoff
    * may still exist briefly (GC pending) — they are filtered out, never
    * double-counted.
    */
  def readCombined(spark: SparkSession, layoutPath: String, dataPath: String): DataFrame =
    // the whole plan-build — marker listing and the eager file listing
    // inside spark.read — sits under the swap lock, so an in-JVM reader
    // can never interleave with mergeCsets' grace-period GC (the only
    // step that deletes files a recent plan could still list). The merge
    // itself is rename-free and commits by one atomic marker, so
    // cross-process readers only need the one-cycle GC grace.
    swapLock(layoutPath).synchronized {
      readCombinedLocked(spark, layoutPath, dataPath)
    }

  private def readCombinedLocked(
      spark: SparkSession, layoutPath: String, dataPath: String): DataFrame = {
    val cutoff = layoutCutoff(layoutPath)
    val (newestGen, liveCsets) = visibleSources(layoutPath)
    // a fully-compacted landing zone (every epoch folded into csets and
    // GC'd) has no parquet left — an unguarded spark.read.parquet would
    // throw "Unable to infer schema" instead of serving the committed
    // csets (the hasParquet twin of readStreams' guard, recursive because
    // landing files live under __epoch=N/ subdirs)
    val recent =
      if (!hasParquetRec(new java.io.File(dataPath))) None
      else {
        val raw = spark.read.parquet(dataPath)
        Some(
          if (raw.columns.contains(EpochCol))
            raw.filter(col(EpochCol) >= cutoff).drop(EpochCol)
          else raw)
      }
    // only VISIBLE sources are listed (newest generation + csets above
    // its cutoff), so orphans and grace-period leftovers stay invisible
    val settled = readLayoutSources(spark, layoutPath, newestGen, liveCsets)
    (settled, recent) match {
      case (Some(s), Some(r)) => s.unionByName(r, allowMissingColumns = true)
      case (Some(s), None)    => s
      case (None, Some(r))    => r
      case (None, None) =>
        throw new NoSuchElementException(
          s"readCombined: no committed layout sources under $layoutPath and no raw epochs under $dataPath")
    }
  }

  /** Any parquet file at or below `d` (epoch landing files live one level
    * down, under `__epoch=N/`).
    */
  private def hasParquetRec(d: java.io.File): Boolean =
    d.exists && {
      val fs = d.listFiles
      fs != null && fs.exists(f =>
        f.getName.endsWith(".parquet") || (f.isDirectory && hasParquetRec(f)))
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory && f.listFiles != null) f.listFiles.foreach(deleteRecursively)
    f.delete()
  }

  /** Epoch bookkeeping partition column (leading underscores are reserved
    * by parquet readers, so a plain name with a `__` prefix convention). */
  val EpochCol = "__epoch"

  /** Fold the dimension's per-batch append files into one generation —
    * periodic maintenance (run alongside `compactToLayout`), collect-free.
    * RENAME-FREE (see the generation-protocol scaladoc above readStreams):
    *
    *   1. recovery: gen dirs / manifests without their commit marker are
    *      dead attempts — swept;
    *   2. grace GC: everything the NEWEST committed generation superseded
    *      (older generations and the root files its manifest covers) has
    *      been invisible for at least one full cycle — deleted;
    *   3. write the union of the visible dimension to `_gen=<k+1>`
    *      (invisible: no marker), record the covered root files in
    *      `_covered_gen_<k+1>` (inert until committed), then create
    *      `_committed_gen_<k+1>` — ATOMIC COMMIT POINT. No GC now.
    *
    * Appends racing the fold stay correct by convergence: a root file
    * landing after the manifest snapshot simply is not covered and stays
    * visible next to the new generation. Single-writer per path, like the
    * other compactors; `onStep` is the crash-injection seam for the spec.
    */
  def compactStreams(
      spark: SparkSession,
      path: String,
      onStep: String => Unit = _ => ()): Unit = swapLock(path).synchronized {
    val dir = new java.io.File(path)
    if (!dir.exists || dir.listFiles == null) return
    val committed = committedStreamGens(path)
    val committedSet = committed.toSet
    // 1. recovery: marker-less attempts
    dir.listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("_gen="))
      .filter(f => !committedSet(f.getName.stripPrefix("_gen=").toLong))
      .foreach(deleteRecursively)
    dir.listFiles
      .filter(f => f.isFile && f.getName.startsWith("_covered_gen_"))
      .filter(f => !committedSet(f.getName.stripPrefix("_covered_gen_").toLong))
      .foreach(_.delete())
    // 2. grace GC under the newest committed generation
    committed.lastOption.foreach { k0 =>
      committed.filter(_ != k0).foreach { j =>
        deleteRecursively(streamsGenDir(path, j))
        streamsGenManifest(path, j).delete()
        streamsGenMarker(path, j).delete()
      }
      coveredByGen(path, k0)
        .foreach(name => new java.io.File(dir, name).delete())
    }
    onStep("gc-done")
    // 3. fold the visible dimension into the next generation
    val k0Opt = committed.lastOption
    val covered = k0Opt.map(coveredByGen(path, _)).getOrElse(Set.empty)
    val live = streamRootFiles(path).filterNot(f => covered(f.getName))
    val worthFolding =
      if (k0Opt.isDefined) live.nonEmpty // fold new appends into the gen
      else live.size > 1                 // nothing to gain from one file
    if (!worthFolding) return
    val k = k0Opt.getOrElse(0L) + 1
    val inputs = k0Opt.map(streamsGenDir(path, _).getPath).toSeq ++ live.map(_.getPath)
    spark.read.parquet(inputs: _*).coalesce(1)
      .write.mode("overwrite").parquet(streamsGenDir(path, k).getPath)
    onStep("gen-written")
    java.nio.file.Files.write(
      streamsGenManifest(path, k).toPath,
      live.map(_.getName).mkString("\n").getBytes("UTF-8"))
    onStep("manifest-written")
    // COMMIT POINT: atomic marker creation flips visibility
    if (!streamsGenMarker(path, k).createNewFile())
      throw new java.io.IOException(s"stream gen marker $k already exists")
    onStep("committed")
  }

  /** Start the ingest query. `raw` is a streaming DataFrame of decoded
    * results carrying the collection's stream-property columns plus
    * measurement columns; `normalize` maps a static batch of raw rows to
    * normalized data rows (must keep the property columns for stream
    * resolution).
    */
  def start(
      raw: DataFrame,
      spec: CollectionSpec,
      streamsPath: String,
      dataPath: String,
      checkpointPath: String,
      normalize: DataFrame => DataFrame = identity,
      // continuous micro-batches by default; pass Trigger.AvailableNow()
      // for run-to-completion backfill jobs (it snapshots the offsets
      // available AT START — data arriving later waits for the next run)
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    raw.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        ingestBatch(batch, spec, streamsPath, dataPath, normalize, Some(epochId))
        ()
      }
      .start()

  /** A committed batch as its consumers see it: the written rows, pinned
    * for the duration of the callback only, and their max timestamp (None
    * for an empty batch), observed by the data write itself.
    */
  final case class Committed(rows: DataFrame, maxTimestamp: Option[Long])

  /** One transactional micro-batch (also callable on static frames for
    * backfill, where `epoch = None` falls back to a plain append).
    *
    * With an epoch id the write is idempotent: rows land under
    * `__epoch=<id>/` and `partitionOverwriteMode=dynamic` replaces exactly
    * that partition on replay, leaving every other epoch untouched.
    *
    * One pass: the batch is normalized once and registered from its
    * NORMALIZED tuples (a normalizer may rewrite key columns, e.g.
    * `Normalizers.external` fills a missing destination); the dimension is
    * read once and collected; new ids are allocated on the driver
    * ([[Catalog.allocateStreams]]) and appended in one write; rows resolve
    * against the local dimension. The resolved frame is pinned before the
    * data write, so the write fills the cache and `onCommit` — called
    * after the data commit, inside the pin — reads it without re-running
    * the ingest plan. The pin is released before returning.
    *
    * Returns the normalized, stream-id-resolved rows that were written,
    * unpinned (a re-evaluation resolves to the same ids: the dimension it
    * joins is the local one).
    */
  def ingestBatch(
      batch: DataFrame,
      spec: CollectionSpec,
      streamsPath: String,
      dataPath: String,
      normalize: DataFrame => DataFrame,
      epoch: Option[Long] = None,
      onCommit: Committed => Unit = _ => ()): DataFrame = {
    val spark = batch.sparkSession
    val rows = normalize(batch)
    val known = readStreams(spark, streamsPath, spec).collect().toSeq
    val fresh = Catalog.allocateStreams(
      known, rows.select(spec.uniqueColumns.map(col): _*).distinct().collect().toSeq, spec)
    // one small file per registering batch; `compactStreams` folds them
    if (fresh.nonEmpty)
      spark.createDataFrame(fresh.asJava, spec.streamSchema)
        .coalesce(1).write.mode("append").parquet(streamsPath)
    val streams = spark.createDataFrame((known ++ fresh).asJava, spec.streamSchema)
    val resolved = Catalog.resolveStreamIds(rows, streams, spec)
    val dataCols = spec.dataSchema.fieldNames.filter(resolved.columns.contains)
    val out = resolved.select(dataCols.toIndexedSeq.map(col): _*).persist()
    try {
      val written = Observation()
      val observed = out.observe(written, max("timestamp").as("mx"))
      epoch match {
        case Some(id) =>
          observed
            .withColumn(EpochCol, lit(id))
            .write
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(EpochCol)
            .parquet(dataPath)
        case None =>
          observed.write.mode("append").parquet(dataPath)
      }
      val mx = written.get("mx")
      onCommit(Committed(out, Option(mx).map(_.asInstanceOf[Long])))
    } finally out.unpersist()
    out
  }
}
