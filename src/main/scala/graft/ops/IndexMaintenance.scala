package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Operational autopilot for the two persisted index families — the
  * SCHEDULER the standing signals (`Similarity.ivfIndexStats` /
  * `Dedup.lshIndexStats`: delta backlog, per-cell skew) exist to feed.
  * An operator (or a cron'd driver job) calls `maintain*Index` per
  * cadence tick; the policy decides between doing nothing, a
  * label-preserving fold, and a Lloyd re-clustering rebuild, and the
  * maintenance op itself is the existing crash-safe compaction.
  *
  * The drift signal for the PERSISTED layout is computed from the
  * DELTAS ONLY — an O(|deltas|) pass, never a corpus re-read: the
  * stored per-cell mean moves by
  * `(Σ_delta v  −  n_delta·cent) / (n_base + n_delta)` per dimension
  * (appending n_delta vectors to a cell of n_base rows), so the
  * post-append mean shift per cell follows from the delta sums, the
  * stored centroid, and the base cell counts (parquet footers). This
  * is the persisted-layout analog of `ivfDriftIncremental`'s
  * sufficient-statistics story: the decision input stays control-plane
  * sized at any corpus scale.
  *
  * Reference anchor: the reference offloads ALL index/table
  * maintenance to its stores' background merges (ClickHouse
  * MergeTree, HBase compactions — `utils/ClickHouseUtil.java`,
  * `common/GmallConfig.java`); on raw parquet the scheduler must be
  * explicit, and this is it.
  */
object IndexMaintenance {

  sealed trait Action
  case object NoOp extends Action
  /** Fold deltas into a new base generation, labels preserved. */
  case object Compact extends Action
  /** Fold + re-cluster ([[Similarity.compactIvfIndex]] with
    * `lloydIters > 0`) — the drift repair. */
  final case class LloydRebuild(iters: Int) extends Action
  /** LSH only: fold into a new generation whose cells use a LONGER
    * sig prefix ([[Dedup.rebucketLshIndex]]) — the hot-cell repair
    * (probe I/O is proportional to probed-cell mass, so a cell that
    * outgrew the layout taxes every probe that lands in it). */
  final case class Rebucket(newPrefixLen: Int) extends Action
  /** IVF only: fold + re-cluster into a LARGER coarse quantizer
    * ([[Similarity.compactIvfIndex]] with `expandToK`) — the IVF
    * analog of the LSH hot-cell rebucket. The coarse-centroid count
    * is otherwise fixed at build time, so on a growing corpus every
    * cell fattens linearly and probe cost follows (nprobe·N/k); this
    * action re-sizes k toward √N when the MEAN cell outgrows the
    * policy's mass bound. */
  final case class ExpandK(newK: Int, iters: Int) extends Action

  /** Decision inputs, all control-plane sized. `maxDrift` is None for
    * index families without a drift concept (LSH) or when there are no
    * deltas to drift on. `staleDeltas` counts deltas whose labels were
    * assigned against a superseded centroid set (ledger `gen` below
    * the manifest's `lgen`): serving full-reads them on every probe, so
    * their mere existence justifies a fold regardless of row counts.
    * `medianCellRows` (LSH): the median BASE cell's row mass — the
    * cold-layout signal (a corpus that shrank under retention deletes
    * or aggressive dedup strands an over-split layout of tiny files).
    * `foldedHottestRows` (LSH): what the hottest cell WOULD weigh if
    * the layout — base AND committed deltas, since the fold absorbs
    * both — were folded one prefix char shorter (exact for
    * current-length cells, conservatively coarse for stale-length
    * delta cells), so a downward re-bucket can be vetoed before it
    * recreates the hot cell an earlier tick split.
    *
    * `deltaFiles`: the live delta backlog counted in CELL DIRECTORIES
    * (Σ ledger cell-list sizes over data deltas, +1 per live
    * tombstone) — the FS-metadata pressure signal. A many-tiny-batches
    * workload pays per-probe listing/footer cost long before row mass
    * justifies a fold (PERF.md r11 names ~250 delta files per ingest
    * batch as the steady-state floor), so row- and batch-count
    * thresholds alone under-fire exactly there. O(1) to compute: the
    * ledger already carries every cell list.
    *
    * `tombRows`: LIVE tombstone key mass (Σ recorded key counts over
    * un-retired tombstone deltas) — the probe-tax signal
    * `deltaFiles` cannot see: a tombstone counts ONE file, and its
    * keys are not band/corpus rows, so a single fat takedown (say
    * 10⁶ ids) taxes every probe with a 10⁶-row broadcast anti-join
    * while tripping neither `backlogRatio` nor `maxDeltaFiles`. Key
    * counts ride the delete's own ledger entry (recorded at write —
    * zero reads here).
    *
    * `cellCount` (IVF): live coarse cells in the base generation — the
    * current k. With `baseRows`/`deltaRows` it yields the POST-FOLD
    * mean cell mass `(baseRows + deltaRows) / cellCount`, the growth
    * signal [[Policy.hotCellMass]] reads (per-cell counts already ride
    * the stats relation; this is one control-plane aggregation). */
  final case class Signals(
      baseRows: Long,
      deltaRows: Long,
      deltaBatches: Int,
      maxDrift: Option[Double],
      staleDeltas: Int = 0,
      hottestCellRows: Long = 0L,
      medianCellRows: Long = 0L,
      foldedHottestRows: Long = 0L,
      deltaFiles: Long = 0L,
      tombRows: Long = 0L,
      cellCount: Long = 0L)

  /** Thresholds. `backlogRatio`: delta mass as a share of the base
    * that justifies paying a fold (each probe reads its cells in EVERY
    * delta root, so backlog taxes serving I/O linearly).
    * `backlogBatches`: fold on sheer delta-directory count even when
    * the rows are few (per-root listing overhead). `driftBound`:
    * squared-L2 centroid mean-shift above which label geometry is
    * stale enough to re-cluster.
    *
    * `trainPqIters`: when a drift repair re-clusters anyway (the one
    * moment the PQ codebook's label space moves), also Lloyd-refine
    * the per-subspace sub-codebooks on the folded corpus
    * ([[Similarity.trainPqCodebookRows]]); 0 (default) keeps the
    * training-free projection codebook.
    *
    * `hotCellRows`: base-cell row mass above which the LSH layout is
    * re-bucketed one prefix char finer (0 = disabled — the right
    * default for bounded corpora; size it to the per-probe read budget
    * on growing ones). A rebucket IS a fold, so it subsumes any
    * pending Compact.
    *
    * `coldCellRows`: MEDIAN base-cell row mass below which the LSH
    * layout is re-bucketed one prefix char COARSER (0 = disabled) —
    * the downward twin of `hotCellRows` for a corpus that SHRANK: the
    * escalation-only policy would strand a 16×-over-split layout of
    * tiny per-cell files (the small-files regime `Storage.compact`
    * exists to fix, and per-probe listing overhead forever). Bounded
    * at prefix length 1, and VETOED when folding would recreate a hot
    * cell (`Signals.foldedHottestRows` vs `hotCellRows`), so the two
    * signals can never flip-flop.
    *
    * `maxDeltaFiles`: live delta cell-directory count at or above
    * which a fold is justified on FS-metadata pressure alone (0 =
    * disabled — size it to the probe-latency budget per delta file on
    * the deployment's store; see [[Signals.deltaFiles]]).
    *
    * `maxTombRows`: live tombstone key mass at or above which a fold
    * is justified on probe-side anti-join tax alone (0 = disabled —
    * size it to the broadcast budget per probe; see
    * [[Signals.tombRows]]). NOTE a tombstone only RETIRES once folded
    * DATA ids cover its own (the orphan-guard floor rule), so on a
    * stream this trigger self-clears at the first fold after the next
    * data batch; with NO data flowing the fold still applies the
    * delete physically and the signal persists harmlessly until one
    * arrives.
    *
    * `hotCellMass` (IVF only): MEAN post-fold cell mass
    * (`(baseRows + deltaRows) / cellCount`) at or above which the
    * layout re-clusters into a larger coarse quantizer, k re-sized
    * toward √N (0 = disabled — the right default for bounded corpora;
    * size it to the per-probe scan budget on growing ones: a probe
    * reads ≈ nprobe × meanCellMass corpus rows). The IVF twin of the
    * LSH `hotCellRows` arc; the expansion IS a Lloyd fold, so it
    * subsumes any pending Compact/LloydRebuild this tick, and the
    * signal self-clears once the new k holds the mean under the bound
    * (√N > current k is also required — a corpus that already sits at
    * the classic sizing won't churn).
    *
    * No field tunes the LSH two-stage probe: its floor is the
    * measured constant [[Dedup.twoStageCellRowsFloor]], and a fold
    * only refreshes the decision's input (`_cell_mass`). */
  final case class Policy(
      backlogRatio: Double = 0.10,
      backlogBatches: Int = 8,
      driftBound: Double = 0.25,
      lloydIters: Int = 2,
      trainPqIters: Int = 0,
      hotCellRows: Long = 0L,
      coldCellRows: Long = 0L,
      hotCellMass: Long = 0L,
      maxDeltaFiles: Long = 0L,
      maxTombRows: Long = 0L)

  private def decide(s: Signals, p: Policy): Action =
    if (s.maxDrift.exists(_ > p.driftBound)) LloydRebuild(p.lloydIters)
    else if (s.staleDeltas > 0) Compact // full-read tax + relabel-on-fold
    else if (p.maxDeltaFiles > 0 && s.deltaFiles >= p.maxDeltaFiles)
      Compact // small-file pressure: listing cost, not row mass
    else if (p.maxTombRows > 0 && s.tombRows >= p.maxTombRows)
      Compact // probe anti-join tax: key mass, not file count
    else if (s.deltaBatches > 0 &&
      (s.deltaBatches >= p.backlogBatches ||
        s.deltaRows.toDouble >= p.backlogRatio * math.max(1L, s.baseRows)))
      Compact
    else NoOp

  /** `(`[[Signals.deltaFiles]]`, `[[Signals.tombRows]]`)` in ONE
    * manifest resolve + ONE ledger read per tick — the two
    * ledger-borne signals share their inputs. Live = above the
    * manifest floor; a tombstone counts ONE file toward the file
    * signal (its single-file key list taxes every probe until the
    * fold retires it). Tombstone key counts ride their entries, so
    * zero data reads. */
  private def ledgerSignals(spark: SparkSession,
      indexDir: String): (Long, Long) = {
    val floor = graft.GenManifest.resolve(spark, indexDir)
      .map(_.floor).getOrElse(-1L)
    val live = graft.GenManifest.readLedger(spark, indexDir)
      .filter(_.id > floor)
    val files = live.map(e => if (e.tomb) 1L else e.cells.size.toLong).sum
    val tombs = live.filter(_.tomb).map(e => e.rows.getOrElse(
      throw new IllegalStateException(
        s"$indexDir/delta/ledger: tombstone ${e.id} records no key count")).sum)
      .sum
    (files, tombs)
  }

  private def backlogFromStats(stats: DataFrame): (Long, Long, Int) = {
    val rows = stats.groupBy(col("root") === "base")
      .agg(sum(col("n_rows")).as("n")).collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val batches = stats.filter(col("root") =!= "base")
      .select("root").distinct().count().toInt
    (rows.getOrElse(true, 0L), rows.getOrElse(false, 0L), batches)
  }

  /** Per-cell squared-L2 mean shift of the live generation's centroids
    * under the un-folded CURRENT-LABEL deltas — `(label, drift)`,
    * O(|deltas|). Stale-tagged deltas are excluded: their labels index
    * a superseded centroid set, so folding them (which relabels) is
    * the action, not measuring them. */
  def ivfDriftPersisted(spark: SparkSession, indexDir: String): DataFrame = {
    val st = Similarity.resolveIvf(spark, indexDir)
    val (deltas, _) = Similarity.deltaIdsByLabelSpace(spark, indexDir, st)
    val centroids = Similarity.servingCentroidsAt(spark, indexDir, st)
    if (deltas.isEmpty)
      return centroids.select(col("label"), lit(0.0).as("drift")).limit(0)
    val deltaRows = deltas
      .map(id => Similarity.readDeltaRoot(spark, indexDir, id))
      .reduce(_ unionByName _)
    // per-(label, dim) delta sums + per-label counts → vsum arrays
    val agg = deltaRows
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos").as("dim"), col("col").cast("double").as("v"))
      .groupBy("label", "dim")
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
      .groupBy("label")
      .agg(
        expr("transform(array_sort(collect_list(struct(dim, sv))), x -> x.sv)").as("dsum"),
        max(col("cnt")).as("n_delta"))
    val baseCounts = Similarity.ivfIndexStats(spark, indexDir)
      .filter(col("root") === "base")
      .groupBy(col("label").cast("long").as("label"))
      .agg(sum(col("n_rows")).as("n_base"))
    agg.join(centroids, "label")
      .join(baseCounts, Seq("label"), "left")
      .select(col("label"),
        aggregate(
          zip_with(col("dsum"), col("cent"),
            (s, c) => {
              val shift = (s - col("n_delta") * c) /
                (coalesce(col("n_base"), lit(0L)) + col("n_delta"))
              shift * shift
            }),
          lit(0.0), (acc, v) => acc + v).as("drift"))
  }

  def ivfSignals(spark: SparkSession, indexDir: String): Signals = {
    val stats = Similarity.ivfIndexStats(spark, indexDir)
    val (base, delta, batches) = backlogFromStats(stats)
    val cells = stats.filter(col("root") === "base")
      .select("label").distinct().count()
    val stale = Similarity.deltaIdsByLabelSpace(spark, indexDir,
      Similarity.resolveIvf(spark, indexDir))._2.size
    val drift =
      if (batches == 0) None
      else {
        val worst = ivfDriftPersisted(spark, indexDir)
          .agg(max(col("drift"))).head()
        if (worst.isNullAt(0)) None else Some(worst.getDouble(0))
      }
    val (files, tombs) = ledgerSignals(spark, indexDir)
    Signals(base, delta, batches, drift, staleDeltas = stale,
      deltaFiles = files, tombRows = tombs, cellCount = cells)
  }

  def lshSignals(spark: SparkSession, indexDir: String): Signals = {
    val stats = Dedup.lshIndexStats(spark, indexDir)
    val (base, delta, batches) = backlogFromStats(stats)
    // per-BASE-cell masses (deltas retire at the next fold anyway; the
    // base layout is the standing per-probe tax) — one control-plane
    // aggregation (≤ 2·16^len rows) feeds all three cell signals:
    // hottest (upward rebucket), median (downward), and the EXACT
    // hottest-if-folded-one-char-shorter (the downward veto — base
    // cells share one generation, hence one prefix length, so the
    // substring regroup is the true post-fold mass)
    val baseCells = stats.filter(col("root") === "base")
      .groupBy("band_id", "sig_p").agg(sum(col("n_rows")).as("n"))
    val row = baseCells.agg(
      max(col("n")),
      expr("CAST(percentile(n, 0.5) AS BIGINT)")).head()
    val (hottest, median) =
      if (row.isNullAt(0)) (0L, 0L) else (row.getLong(0), row.getLong(1))
    // the fold a downward rebucket performs absorbs the COMMITTED
    // DELTAS too, so the veto's post-fold hottest must aggregate over
    // ALL roots — a base-only estimate could pass the veto while the
    // folded-in delta mass re-trips the hot signal next tick (the
    // exact oscillation the veto exists to prevent). Every row groups
    // at the ACTUAL fold target, curLen - 1, clamped to each cell's
    // own length: a SHORTER stale delta cell (appended before an
    // upward rebucket) groups at its own length-1 — coarser than the
    // real fold, an overestimate, the veto errs conservative — while
    // a LONGER stale delta cell (appended racing a DOWNWARD rebucket)
    // is truncated to the target so it merges with the base cells
    // sharing that prefix instead of grouping finer and silently
    // UNDERestimating the post-fold hottest.
    val curLen = Dedup.lshPrefixLenOf(spark, indexDir)
    val foldedRow = stats
      .groupBy(col("band_id"),
        expr(s"substring(sig_p, 1, greatest(least(length(sig_p), $curLen) - 1, 1))"))
      .agg(sum(col("n_rows")).as("fn"))
      .agg(max(col("fn"))).head()
    val folded = if (foldedRow.isNullAt(0)) 0L else foldedRow.getLong(0)
    val (files, tombs) = ledgerSignals(spark, indexDir)
    Signals(base, delta, batches, maxDrift = None,
      hottestCellRows = hottest, medianCellRows = median,
      foldedHottestRows = folded,
      deltaFiles = files, tombRows = tombs)
  }

  def planIvf(spark: SparkSession, indexDir: String,
      policy: Policy = Policy()): Action = {
    val s = ivfSignals(spark, indexDir)
    // growth check FIRST: the expansion is itself a Lloyd fold, so it
    // subsumes any backlog/drift-justified action this tick (the LSH
    // hot-cell precedence, applied to the mean because IVF cell mass
    // is geometry-driven — one naturally dense cluster must not
    // re-size the whole quantizer, but a corpus that outgrew k moves
    // the MEAN no matter how the mass is shaped)
    val n = s.baseRows + s.deltaRows
    lazy val kTarget = math.ceil(math.sqrt(n.toDouble)).toInt
    if (policy.hotCellMass > 0 && s.cellCount > 0 &&
        n / s.cellCount >= policy.hotCellMass && kTarget > s.cellCount)
      ExpandK(kTarget, math.max(1, policy.lloydIters))
    else decide(s, policy)
  }

  def planLsh(spark: SparkSession, indexDir: String,
      policy: Policy = Policy()): Action = {
    val s = lshSignals(spark, indexDir)
    val curLen = Dedup.lshPrefixLenOf(spark, indexDir)
    // hot-cell check FIRST: a rebucket is itself a fold, so it
    // subsumes any backlog-justified Compact this tick
    if (policy.hotCellRows > 0 && s.hottestCellRows > policy.hotCellRows
        && curLen < 16)
      Rebucket(curLen + 1)
    // cold-cell check second: fold one char coarser only when the
    // MEDIAN cell is below the floor (one straggler cell must not
    // coarsen a healthy layout), never below length 1, and never when
    // the exact post-fold hottest would re-trip the hot signal (the
    // flip-flop veto)
    else if (policy.coldCellRows > 0 && curLen > 1 && s.medianCellRows > 0
        && s.medianCellRows < policy.coldCellRows
        && (policy.hotCellRows == 0 ||
          s.foldedHottestRows <= policy.hotCellRows))
      Rebucket(curLen - 1)
    else decide(s, policy)
  }

  /** One cadence tick: decide and execute. Returns the action taken —
    * the line an operator's log carries. */
  def maintainIvfIndex(spark: SparkSession, indexDir: String,
      policy: Policy = Policy()): Action = {
    val action = planIvf(spark, indexDir, policy)
    action match {
      case NoOp => ()
      // trainPqIters rides EVERY fold, not just drift rebuilds: a
      // compaction rewrites the pq codes generation-coupled either
      // way, so training here is what keeps the recall floor
      // self-maintaining (0 = the training-free projection codebook)
      case Compact => Similarity.compactIvfIndex(spark, indexDir,
        trainPqIters = policy.trainPqIters)
      case LloydRebuild(iters) =>
        Similarity.compactIvfIndex(spark, indexDir, lloydIters = iters,
          trainPqIters = policy.trainPqIters)
      case ExpandK(k, iters) =>
        Similarity.compactIvfIndex(spark, indexDir, lloydIters = iters,
          trainPqIters = policy.trainPqIters, expandToK = Some(k))
      // LSH-only action, unreachable from planIvf — loud, not a silent
      // (): a future planner edit that leaks a Rebucket into the IVF
      // path must fail the tick, not skip maintenance forever
      // (VERDICT r15 item 4)
      case Rebucket(len) => sys.error(
        s"planIvf returned Rebucket($len): LSH-only action in the IVF path")
    }
    action
  }

  def maintainLshIndex(spark: SparkSession, indexDir: String,
      policy: Policy = Policy()): Action = {
    val action = planLsh(spark, indexDir, policy)
    action match {
      case NoOp => ()
      case Rebucket(len) => Dedup.rebucketLshIndex(spark, indexDir, len)
      case _ => Dedup.compactLshIndex(spark, indexDir)
    }
    action
  }
}
