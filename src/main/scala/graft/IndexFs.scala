package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** All control-plane filesystem access for the persisted serving/state
  * layouts (LSH near-dup index, IVF ANN index, versioned dim/stats
  * state, streaming result unions) goes through this seam, resolved
  * per-path via the Hadoop `FileSystem` API — the SAME code path Spark
  * itself uses for the data plane. A `file:` path (or bare local path)
  * resolves to the local filesystem in this sandbox; on a cluster the
  * identical call resolves `hdfs:`/`s3a:` from the session's Hadoop
  * conf with zero code changes. (Round-6 shipped these listings on
  * `java.io.File`, which silently returns "nothing exists" for any
  * non-local URI — an index that serves empty results instead of
  * failing. IndexFsSpec drives the full lifecycle through `file:` URIs
  * to prove no `java.io` leakage remains.)
  *
  * Paths are kept as the caller's strings and children are built by
  * concatenation, so `basePath`-anchored Spark reads see the same
  * spelling the listing produced.
  */
object IndexFs {

  /** Seam-call counter: every public IndexFs operation bumps it once.
    * On an object store each of these calls is a LIST/GET/PUT round
    * trip, so serving-path latency scales with THIS count, not local
    * wall-clock — IndexFsSpec reads deltas of it to pin the
    * O(1)-metadata-I/O bound of the persisted-index probes (a probe's
    * seam calls must not grow with the delta backlog). */
  private[graft] val seamCalls = new java.util.concurrent.atomic.AtomicLong()
  private def tick(): Unit = { seamCalls.incrementAndGet(); () }

  private def fp(spark: SparkSession, path: String): (org.apache.hadoop.fs.FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    tick()
    val (fs, p) = fp(spark, path)
    fs.exists(p)
  }

  /** Run `body` — a multi-path `spark.read` over index CELL
    * directories — with Spark's DISTRIBUTED-listing threshold raised,
    * so the file index lists the paths on the driver instead of
    * spawning a Spark job. Probe/serving reads pass one path per
    * probed cell (each holding ~1 file), and with the default
    * threshold (32) any probe touching >32 cells pays a 140-250 ms
    * cluster job to list a few dozen single-file directories — the
    * r16 IngestProbe measured 3+ such jobs (~0.5 s) per dedup-ingest
    * micro-batch. Probed-cell counts are micro-batch/probe-bounded
    * (never corpus-proportional — the O(1)-metadata contract
    * IndexFsSpec pins), so driver listing is O(100) stat calls.
    * The set/body/restore runs under one lock: two probes on one
    * session that interleaved unlocked could leave the raised value
    * set for good (the second captures the first's raised value as
    * its "previous" and restores it after the first unset it), so
    * later corpus-scale reads would list on the driver. The body is
    * one eagerly built file index (`DataFrameReader.parquet(paths)`),
    * so the lock is held for one probe-bounded listing. */
  def withCellListing[A](spark: SparkSession)(body: => A): A =
    cellListingLock.synchronized {
      val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
      // explicitly set values only: getOption answers the default for
      // an unset key, and restoring that would leave the key set
      val prev = spark.conf.getAll.get(key)
      spark.conf.set(key, cellListingJobThreshold.toString)
      try body
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

  /** Path count above which a cell read lists through a Spark job. */
  private val cellListingJobThreshold = 1024
  private val cellListingLock = new Object

  def isDir(spark: SparkSession, path: String): Boolean = {
    tick()
    val (fs, p) = fp(spark, path)
    fs.exists(p) && fs.getFileStatus(p).isDirectory
  }

  /** Child NAMES of `dir` matching `pattern` (whole-name regex),
    * sorted; empty if the directory does not exist. Names, not paths —
    * callers rebuild child paths by concatenation so the path spelling
    * stays the caller's. */
  def listNames(spark: SparkSession, dir: String, pattern: String): Seq[String] = {
    tick()
    val (fs, p) = fp(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.matches(pattern)).sorted
  }

  /** Recursive delete, idempotent (missing path is a no-op). */
  def delete(spark: SparkSession, path: String): Unit = {
    tick()
    val (fs, p) = fp(spark, path)
    fs.delete(p, true)
    ()
  }

  /** Create the directory (and parents), idempotent. */
  def mkdirs(spark: SparkSession, path: String): Unit = {
    tick()
    val (fs, p) = fp(spark, path)
    fs.mkdirs(p)
    ()
  }

  /** Rename (same filesystem). Returns false on failure — the caller
    * must treat false as "commit did not happen" (on HDFS a rename
    * onto an existing destination fails rather than overwrites; the
    * local scheme can overwrite, so check-then-rename callers must
    * tolerate either). Used by the batch-directory commit of
    * [[graft.streaming.ExactlyOnceSink]]. */
  def rename(spark: SparkSession, src: String, dst: String): Boolean = {
    tick()
    val (fs, s) = fp(spark, src)
    fs.rename(s, new Path(dst))
  }

  def readUtf8(spark: SparkSession, path: String): String = {
    tick()
    val (fs, p) = fp(spark, path)
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Atomic small-file commit: write `.name.tmp`, flush+sync to
    * durable storage, rename it over any existing destination (a
    * replayed batch overwrites its own torn file). The rename is the
    * commit point — readers see the old content or the new, never a
    * torn prefix and never no file.
    *
    * The sync goes through the RAW filesystem when the resolved one is
    * a `ChecksumFileSystem` wrapper (the `file:` scheme): the checksum
    * wrapper's output stream is not `Syncable`, so `hsync()` on it
    * silently degrades to a buffer flush — durable-before-rename in
    * name only. `RawLocalFileSystem`'s stream syncs the real file
    * descriptor; HDFS/S3A resolve to natively `Syncable` streams and
    * take the plain path. (Skipping the `.crc` sidecar for a manifest
    * is fine — the atomic rename is the integrity mechanism here.) */
  def writeUtf8Atomic(spark: SparkSession, path: String, content: String): Unit = {
    tick()
    val p = new Path(path)
    val resolved = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fs = resolved match {
      case cfs: org.apache.hadoop.fs.ChecksumFileSystem => cfs.getRawFileSystem
      case other => other
    }
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    // this writer bypasses the checksum wrapper, but files written by
    // OTHER writers (or by this code before the raw-fs change) carry
    // .crc sidecars — a rename onto such a destination would leave a
    // STALE sidecar behind, and the next readUtf8 (which goes through
    // the checksum layer) would fail with ChecksumException on
    // perfectly good content. Drop any existing sidecars for both tmp
    // and destination before writing/renaming.
    resolved match {
      case cfs: org.apache.hadoop.fs.ChecksumFileSystem =>
        fs.delete(cfs.getChecksumFile(tmp), false)
        fs.delete(cfs.getChecksumFile(p), false)
        ()
      case _ => ()
    }
    val out = fs.create(tmp, true)
    try {
      out.write(content.getBytes("UTF-8"))
      out.hflush()
      out.hsync() // durable BEFORE the rename makes it visible
    } finally out.close()
    // rename with OVERWRITE semantics: a rewrite (a replayed manifest,
    // every delta-ledger or offset-ledger swap) must never open a
    // window where NO file exists — readers require these files and a
    // concurrent one would fail on the gap. The local raw filesystem
    // renames with rename(2), which replaces the destination
    // atomically; FileContext's OVERWRITE on file: deletes the
    // destination first (AbstractFileSystem's default), so it serves
    // only the other schemes (atomic on hdfs:). Schemes without an
    // AbstractFileSystem binding fall back to delete+rename,
    // accepting the narrow window there.
    def renameOrFail(): Unit =
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"atomic commit failed: $tmp -> $p")
    fs match {
      case _: org.apache.hadoop.fs.RawLocalFileSystem => renameOrFail()
      case _ =>
        try {
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(
            p.toUri, spark.sparkContext.hadoopConfiguration)
          fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        } catch {
          case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            fs.delete(p, false)
            renameOrFail()
        }
    }
  }
}

/** Generation-manifest commit protocol shared by the two persisted
  * index families (LSH `bands`, IVF `corpus`/`centroids`/`stats`) —
  * the [[graft.streaming.StreamOps.statsMergePartitioned]] manifest
  * discipline applied to index bases and deltas.
  *
  * Layout under an index dir:
  *   - `<prefix>_g<gen>`  — base generation directories (immutable
  *     once a later manifest exists)
  *   - `delta/b<batchId>` — batch deltas (batchId-idempotent
  *     overwrites)
  *   - `delta/t<batchId>` — TOMBSTONE deltas (retention/takedown key
  *     lists; readers subtract them, folds apply and retire them)
  *   - `m<seq>`           — manifests; the NEWEST one is the truth:
  *     `gen`   = the generation that owns the base,
  *     `floor` = the highest delta batchId folded INTO that base
  *     (readers consume base + deltas with id > floor only).
  *
  * Commit = atomic manifest rename ([[IndexFs.writeUtf8Atomic]]).
  * Compaction writes the next generation FIRST, then commits, then
  * GCs — a crash at any point leaves the previous manifest serving a
  * complete state, and re-running compaction resumes (overwrites the
  * torn generation, commits, GCs). GC keeps the newest TWO manifests,
  * their generations, and every delta above the older floor — so a
  * reader that resolved the previous manifest keeps every file it
  * references until two more commits happen (the stats tables'
  * keep-two replay discipline). A replayed append of an ABSORBED
  * batch rewrites `delta/b<id>` below the floor and is simply never
  * read again.
  */
private[graft] object GenManifest {

  /** `lgen` = the generation at which the live LABEL SPACE was
    * created — the last re-clustering (Lloyd) generation, or the
    * initial persist. A label-preserving compaction advances `gen` but
    * carries `lgen`; a delta whose ledger `gen` is >= `lgen` carries
    * labels that mean the same thing as the base's, one below `lgen`
    * was assigned against a superseded centroid set. */
  final case class State(seq: Long, gen: Long, floor: Long, lgen: Long)

  def manifestIds(spark: SparkSession, dir: String): Seq[Long] =
    GenLifecycle.versionIds(spark, dir, "m", gated = false).sorted

  /** Newest committed state, if any manifest exists. */
  def resolve(spark: SparkSession, dir: String): Option[State] = {
    val ids = manifestIds(spark, dir)
    if (ids.isEmpty) None else Some(read(spark, dir, ids.max))
  }

  def read(spark: SparkSession, dir: String, seq: Long): State = {
    val kv = IndexFs.readUtf8(spark, s"$dir/m$seq").linesIterator
      .filter(_.nonEmpty).map { l =>
        val Array(k, v) = l.split('\t'); k -> v.toLong
      }.toMap
    def field(k: String): Long = kv.getOrElse(k,
      throw new IllegalStateException(s"$dir/m$seq: manifest records no $k"))
    State(seq, field("gen"), field("floor"), field("lgen"))
  }

  /** `lgen < 0` (the default) records `lgen = gen` — right for the
    * initial persist, for any re-clustering commit, and for index
    * families whose label space never changes (LSH bands). A
    * label-preserving compaction passes the carried `st.lgen`. */
  def commit(spark: SparkSession, dir: String, seq: Long, gen: Long,
      floor: Long, lgen: Long = -1L): Unit =
    IndexFs.writeUtf8Atomic(spark, s"$dir/m$seq",
      s"gen\t$gen\nfloor\t$floor\nlgen\t${if (lgen < 0) gen else lgen}\n")

  /** One committed delta's metadata as recorded in the delta LEDGER:
    * `gen` is the centroid generation whose label space assigned the
    * delta's cells (constant for families whose label space never
    * changes, e.g. LSH bands), `cells` the root-relative cell directory
    * fragments the delta actually wrote — `label=5` for the IVF layout,
    * `band_id=0/sig_p=ab` for LSH. `tomb` marks a TOMBSTONE delta (a
    * retention/takedown delete): its data is a key list under
    * `delta/t<id>` (not band/corpus rows under `b<id>`) and it has no
    * cells (`?` on disk); readers subtract it instead of adding it, and
    * the next fold applies and retires it. `rows` (aligned with
    * `cells`; None = not recorded, the IVF data-delta form) records
    * each cell's row count at append time — the per-probe decision
    * inputs that must not re-read delta footers. On a TOMBSTONE entry
    * `rows` is a single-element list carrying the key-list row count —
    * the autopilot's `Signals.tombRows` input, recorded at write so the
    * signal costs zero reads per tick. */
  final case class DeltaEntry(id: Long, gen: Long, cells: Seq[String],
      tomb: Boolean = false, rows: Option[Seq[Long]] = None)

  /** The delta ledger: ONE small file (`delta/ledger`) naming every
    * committed delta with its label-space generation and cell list, so
    * a serving probe resolves ALL delta metadata in a single read
    * instead of O(deltas) LIST/GET round-trips (on `s3a:` that is the
    * difference between ~10 ms and ~1 s of metadata latency per probe
    * at backlog). Written atomically by the SOLE delta writer — the
    * sequential streaming-ingest contract; compaction and GC never
    * write it (entries at or below the manifest floor are dead:
    * readers filter them out, the writer trims them on its next
    * commit). The ledger entry IS the delta commit point: a delta
    * whose data landed (`_SUCCESS`) but whose ledger write crashed
    * stays invisible until the batch replays — the same
    * half-committed-batch semantics as a torn `_SUCCESS`. Every persist
    * entry point writes an empty ledger before its manifest commit, so
    * a missing ledger fails loudly. Rows are five tab-separated
    * columns: id, gen, cells, kind (`d`/`t`), per-cell rows. */
  def readLedger(spark: SparkSession, dir: String): Seq[DeltaEntry] = {
    val p = s"$dir/delta/ledger"
    if (!IndexFs.exists(spark, p))
      throw new IllegalStateException(s"missing $p: the index's delta ledger")
    IndexFs.readUtf8(spark, p).linesIterator.filter(_.nonEmpty).map { l =>
      val Array(id, gen, cs, kind, rs) = l.split("\t", -1)
      val tomb = kind == "t"
      if (!tomb && cs == "?")
        throw new IllegalStateException(s"$p: data delta $id records no cell list")
      DeltaEntry(id.toLong, gen.toLong,
        if (tomb) Nil else cs.split(',').filter(_.nonEmpty).toSeq,
        tomb = tomb,
        rows = if (rs == "?") None
          else Some(rs.split(',').filter(_.nonEmpty).map(_.toLong).toSeq))
    }.toSeq
  }

  def writeLedger(spark: SparkSession, dir: String,
      entries: Seq[DeltaEntry]): Unit =
    IndexFs.writeUtf8Atomic(spark, s"$dir/delta/ledger",
      entries.sortBy(_.id).map { e =>
        val cs = if (e.tomb) "?" else e.cells.mkString(",")
        val rs = e.rows.fold("?")(_.mkString(","))
        s"${e.id}\t${e.gen}\t$cs\t${if (e.tomb) "t" else "d"}\t$rs"
      }.mkString("", "\n", "\n"))

  /** Delta batchIds in (above, below) — exclusive on both ends: a
    * reader never consumes deltas at or below its manifest's floor,
    * and an ingest batch never probes its own (possibly torn)
    * output. Only COMMITTED deltas count: a delta directory without
    * its `_SUCCESS` marker (the write is still in flight, crashed, or
    * is being replay-overwritten right now) is invisible to serving
    * AND to compaction — folding a torn delta would make the partial
    * batch permanent, because the completing replay then lands below
    * the raised floor and is never read. (Writers are sequential per
    * index — the streaming ingest contract — so an uncommitted delta
    * is always the NEWEST one and can never be orphaned below the
    * floor by a later sibling.) */
  def deltaIds(spark: SparkSession, dir: String, above: Long,
      below: Long = Long.MaxValue): Seq[Long] =
    IndexFs.listNames(spark, s"$dir/delta", "b\\d+")
      .map(_.drop(1).toLong).filter(id => id > above && id < below)
      .filter(id => IndexFs.exists(spark, s"$dir/delta/b$id/_SUCCESS"))
      .sorted

  /** Reset to an empty index root: drop every manifest, every base
    * generation of the given prefixes, and the delta dir. Called by
    * the persist entry points ("create/replace the index"). */
  def reset(spark: SparkSession, dir: String, prefixes: Seq[String]): Unit = {
    manifestIds(spark, dir).foreach(id => IndexFs.delete(spark, s"$dir/m$id"))
    prefixes.foreach { pre =>
      IndexFs.listNames(spark, dir, s"${java.util.regex.Pattern.quote(pre)}_g\\d+")
        .foreach(n => IndexFs.delete(spark, s"$dir/$n"))
    }
    IndexFs.delete(spark, s"$dir/delta")
  }

  /** Operational view of a persisted index layout: one row per
    * (root, cell-column values) with its row count, where root is
    * `base` or `delta/b<id>` for every delta above the manifest floor.
    * This is the standing signal an index operator watches — delta
    * backlog (how much serving I/O each probe pays on top of the
    * base → schedule compaction), per-cell row skew (hot cells →
    * lower `maxCellRows` or re-bucket), and empty-cell fraction. Reads
    * parquet footers only (counts, no data columns), so it stays cheap
    * on a corpus-scale index. */
  private[graft] def cellStats(spark: SparkSession, dir: String,
      basePrefix: String, cellCols: Seq[String],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val st = resolve(spark, dir).getOrElse(
      throw new IllegalStateException(s"no index manifest under $dir"))
    val roots = ("base", s"$dir/${basePrefix}_g${st.gen}") +:
      deltaIds(spark, dir, above = st.floor)
        .map(id => (s"delta/b$id", s"$dir/delta/b$id"))
    roots.map { case (label, root) =>
      // explicit schema, never inferred: keeps string partition values
      // raw (leading zeros) and reads an empty delta as zero rows
      spark.read.schema(schema).option("basePath", root).parquet(root)
        .groupBy(cellCols.map(c => col(c).cast("string").as(c)): _*)
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(label).as("root") +: cellCols.map(col) :+ col("n_rows"): _*)
    }.reduce(_ unionByName _)
  }

  /** Keep-two GC: retains the newest two manifests, the generations
    * either references, and every delta strictly above the OLDER
    * retained floor; deletes the rest. Idempotent — safe to run after
    * every commit and as crash cleanup. */
  def gc(spark: SparkSession, dir: String, prefixes: Seq[String]): Unit = {
    val ids = manifestIds(spark, dir)
    if (ids.isEmpty) return
    val keepIds = ids.takeRight(2)
    val keepStates = keepIds.map(read(spark, dir, _))
    val keepGens = keepStates.map(_.gen).toSet
    val minFloor = keepStates.map(_.floor).min
    ids.dropRight(2).foreach(id => IndexFs.delete(spark, s"$dir/m$id"))
    prefixes.foreach { pre =>
      IndexFs.listNames(spark, dir, s"${java.util.regex.Pattern.quote(pre)}_g\\d+")
        .foreach { n =>
          if (!keepGens.contains(n.drop(pre.length + 2).toLong))
            IndexFs.delete(spark, s"$dir/$n")
        }
    }
    // tombstone deltas (t<id>) retire on the same keep-two horizon as
    // data deltas: a fold that applied a tombstone raised the floor to
    // (at least) its id, and a reader pinned to the PREVIOUS manifest
    // may still subtract it until two more commits happen
    IndexFs.listNames(spark, s"$dir/delta", "[bt]\\d+").foreach { n =>
      if (n.drop(1).toLong <= minFloor) IndexFs.delete(spark, s"$dir/delta/$n")
    }
  }
}

/** The shared per-generation lifecycle pieces the three persisted
  * index families (LSH `bands`, IVF `corpus`/`centroids`, eval-sem
  * `evvec`/`evband`) build on top of [[GenManifest]] — extracted so
  * none of them hand-rolls them separately:
  *
  *   - resolve-or-throw (uniform "persist first" failure),
  *   - per-generation metadata sidecars (`_prefix_len`, `_cell_mass`,
  *     `_id`): underscore-prefixed single files written WITH the data
  *     before the manifest commit, retired with their directory by
  *     GC, invisible to Spark's file index,
  *   - the UNIFORM `_id` identity token: `(dir, gen)` is NOT an
  *     identity — a persist-entry-point rebuild resets the manifest
  *     chain and re-uses gen 0 with different content — so any
  *     driver-local cache of generation content must key on `_id`
  *     (the IVF centroid cache's lesson, now carried by every
  *     family's generations so no future cache re-learns it),
  *   - the retract → write → append delta-ledger commit discipline
  *     every append/delete shares (entry = the commit point; a
  *     replay retracts it before overwriting the data, so a
  *     concurrent reader never consumes a half-overwritten delta).
  */
private[graft] object GenLifecycle {

  def resolveOrThrow(spark: SparkSession, dir: String,
      family: String, persistHint: String): GenManifest.State =
    GenManifest.resolve(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"no $family index manifest under $dir — $persistHint first"))

  def writeMeta(spark: SparkSession, root: String, name: String,
      content: String): Unit =
    IndexFs.writeUtf8Atomic(spark, s"$root/$name", content)

  def readMeta(spark: SparkSession, root: String,
      name: String): Option[String] =
    if (IndexFs.exists(spark, s"$root/$name"))
      Some(IndexFs.readUtf8(spark, s"$root/$name"))
    else None

  /** [[readMeta]] for a sidecar its writer always lays down before
    * the commit point: absent means the layout lost its metadata, which
    * fails loudly naming the file instead of guessing a default. */
  def requireMeta(spark: SparkSession, root: String, name: String): String =
    readMeta(spark, root, name).getOrElse(
      throw new IllegalStateException(s"missing $root/$name"))

  def writeGenId(spark: SparkSession, root: String): Unit =
    writeMeta(spark, root, "_id", java.util.UUID.randomUUID().toString)

  def readGenId(spark: SparkSession, root: String): String =
    requireMeta(spark, root, "_id").trim

  /** STREAMING-OWNERSHIP marker of a persisted index's delta axis:
    * the highest batch id a streaming ingest loop has claimed, written
    * (monotonically) by the loop itself after each batch's writes land
    * (`dedupIngest`/`annIngest` and their CDC forms). Its existence
    * makes the writer contract STRUCTURAL instead of documented: a
    * direct `deleteFrom*Index` call with an id ABOVE the marker would
    * race the stream's ledger read-modify-write and — because a
    * tombstone kills every lower-id data delta — silently destroy
    * every future append the stream lands below that id, so
    * [[assertTakedownOnAxis]] rejects it loudly (the
    * `FileTopics.produce` one-producer-mode precedent); a direct
    * `appendTo*Index` above the marker pre-claims a future stream id
    * the stream would retract-and-overwrite, so
    * [[assertAppendOnAxis]] rejects it the same way. Lives INSIDE
    * `delta/` so a persist-entry-point reset (which drops the delta
    * dir) clears ownership with the axis itself; underscore-prefixed
    * and non-`[bt]<id>`-shaped, so delta listings, GC and Spark's file
    * index never see it. */
  def writeStreamAxis(spark: SparkSession, dir: String, batchId: Long): Unit =
    if (!readStreamAxis(spark, dir).exists(_ >= batchId))
      IndexFs.writeUtf8Atomic(spark, s"$dir/delta/_stream_axis",
        batchId.toString)

  def readStreamAxis(spark: SparkSession, dir: String): Option[Long] =
    readMeta(spark, s"$dir/delta", "_stream_axis").map(_.trim.toLong)

  /** Loud reject for out-of-axis direct takedowns on a streaming-owned
    * index — deletes at or below the stream's last claimed id remain
    * legal (a retro takedown from the writer context between batches;
    * same-id data survives by the log-order rule). Costs metadata I/O
    * on the DELETE path only, never on probes. */
  def assertTakedownOnAxis(spark: SparkSession, dir: String,
      batchId: Long, feedHint: String): Unit =
    readStreamAxis(spark, dir).foreach { last =>
      if (batchId > last) throw new IllegalStateException(
        s"deleteFrom*Index(batchId=$batchId) on $dir, whose delta axis is " +
          s"owned by a streaming ingest (last claimed batch id $last): an id " +
          "above the stream's counter would kill every future append below " +
          s"it. Route the takedown through the ingest loop's deletions feed " +
          s"($feedHint) or issue it at an id <= $last from the writer " +
          "context between micro-batches.")
    }

  /** Loud reject for out-of-axis direct APPENDS on a streaming-owned
    * index — the write-side twin of [[assertTakedownOnAxis]] (advisor
    * r13: the delete guard alone left the same caller-discipline hole
    * open on the append side). A direct append at an id ABOVE the
    * stream's last claimed batch pre-claims a future stream id, and
    * the stream's eventual batch at that id would retract-and-
    * overwrite the foreign delta silently — batchId-keyed idempotent
    * overwrite is the REPLAY contract, owned by the checkpointed
    * loop. Appends at or below the axis stay legal from the writer
    * context between micro-batches; within one id the log-order rule
    * is unchanged. Costs metadata I/O on the APPEND path only, never
    * on probes; the ingest loops use the unchecked forms (they ARE
    * the axis owner). */
  def assertAppendOnAxis(spark: SparkSession, dir: String,
      batchId: Long, feedHint: String): Unit =
    readStreamAxis(spark, dir).foreach { last =>
      if (batchId > last) throw new IllegalStateException(
        s"appendTo*Index(batchId=$batchId) on $dir, whose delta axis is " +
          s"owned by a streaming ingest (last claimed batch id $last): a " +
          "direct append above the stream's counter pre-claims a future " +
          "stream id, and the stream's batch at that id would silently " +
          "retract-and-overwrite it. Route the documents through the " +
          s"ingest loop's feed ($feedHint) or append at an id <= $last " +
          "from the writer context between micro-batches.")
    }

  /** Ids of `<prefix><id>` children of `dir` strictly below `below` —
    * the shared listing primitive of every id-versioned layout (dim /
    * stats state versions `v<id>`, partitioned-stats and index
    * manifests `m<id>`, exactly-once outputs `batch=<id>`, ingest
    * decision logs `b<id>`). `gated` = only ids whose directory
    * carries the `_SUCCESS` commit marker: a version directory EXISTS
    * from the moment its overwrite starts, so serving or merging
    * against an ungated listing reads torn state. Pass gated=false
    * for rename-committed layouts (manifest FILES, renamed batch
    * dirs) and for GC sweeps, which must see torn directories to
    * remove them. */
  def versionIds(spark: SparkSession, dir: String, prefix: String,
      below: Long = Long.MaxValue, gated: Boolean = true): Seq[Long] =
    IndexFs.listNames(spark, dir,
        java.util.regex.Pattern.quote(prefix) + "\\d+")
      .map(_.drop(prefix.length).toLong)
      .filter(_ < below)
      .filter(id => !gated || IndexFs.exists(spark, s"$dir/$prefix$id/_SUCCESS"))

  /** The (base, current) two-version GC rule of the full-copy state
    * sinks ([[graft.streaming.StreamOps.dimUpsert]]/`statsMerge`):
    * keep the merge base (newest COMMITTED version strictly below
    * `batchId`, when the caller had one) and `<prefix><batchId>`
    * itself; delete every other version — ids ABOVE batchId too
    * (residue of an abandoned run: old stateDir + fresh checkpoint;
    * left alive it would be served as "latest" and eventually picked
    * as a merge base, double-counting the dead run), and torn
    * uncommitted dirs (ungated sweep). The base survives because the
    * checkpoint may not have committed this batch yet: a crash there
    * replays batchId, whose merge MUST find the pre-batch state or it
    * silently resets the table to the replayed batch alone. */
  def gcVersions(spark: SparkSession, dir: String, prefix: String,
      batchId: Long, keepBase: Boolean): Unit = {
    val keep =
      if (keepBase) Some(versionIds(spark, dir, prefix, below = batchId).max)
      else None
    versionIds(spark, dir, prefix, gated = false)
      .filter(v => (v < batchId && !keep.contains(v)) || v > batchId)
      .foreach(v => IndexFs.delete(spark, s"$dir/$prefix$v"))
  }

  /** Retract any prior (id, kind) entry, run the data write, append
    * the entry it returns (floor-trimmed). */
  def commitDelta(spark: SparkSession, dir: String, floor: Long, id: Long,
      tomb: Boolean)(writeData: => GenManifest.DeltaEntry): Unit = {
    val prior = GenManifest.readLedger(spark, dir)
    if (prior.exists(e => e.id == id && e.tomb == tomb))
      GenManifest.writeLedger(spark, dir,
        prior.filterNot(e => e.id == id && e.tomb == tomb))
    val entry = writeData
    GenManifest.writeLedger(spark, dir,
      prior.filterNot(e => (e.id == id && e.tomb == tomb) || e.id <= floor)
        :+ entry)
  }
}

/** Session-lifetime temp directories with JVM-exit cleanup — the
  * query-surface index builders (`dedup_against_index`,
  * `sim_topk_ivf_served`, and the serve-only cached variants) persist
  * into these; one shutdown hook removes everything so repeated bench
  * passes don't accumulate dead index trees in the container's tmp. */
private[graft] object TempDirs {
  private val created = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val hook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      created.forEach { d =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(d))
      }))
    ()
  }

  def create(prefix: String): String = {
    hook
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    created.add(d)
    d
  }
}
