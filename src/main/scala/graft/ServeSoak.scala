package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Serving-path scale soak: builds the persisted LSH and IVF indexes
  * over the base corpus and an N× blowup ([[Soak.blowUp]]), then times
  * the SERVE leg alone — an ingest-sized near-dup probe against the
  * LSH index and an external-vector ANN probe against the IVF index.
  *
  * The claim under test is the round-7 serving contract: probe I/O is
  * proportional to the probed cells' mass, never the corpus. Cells
  * grow linearly with the corpus, so serve time may grow with N — but
  * it must stay a small corpus fraction (the probed-cells share), and
  * the ingest probe must stay interactive at ×N while a full-corpus
  * scan would not. Build time is reported alongside so the two legs
  * stay separately visible (the Bench serve-only split, at soak
  * scale).
  *
  * Usage: runMain graft.ServeSoak [factor] [baseSfDir]
  */
object ServeSoak {

  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    val baseDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val soakDir = s"/tmp/graft-soak-x$factor"
    Soak.blowUp(spark, baseDir, soakDir, factor)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // the ingest-shaped probe: a handful of near-copies of corpus docs
    def probeDocs(dir: String) = {
      import spark.implicits._
      val sample = spark.read.parquet(s"$dir/documents.parquet")
        .orderBy("doc_id").limit(5)
        .select("doc_id", "text").as[(Long, String)].collect()
      sample.map { case (id, t) =>
        (id + 10000000L, t.replaceFirst(" [a-z]+$", " zz")) }.toSeq
        .toDF("doc_id", "text")
    }
    val qvec = Array.tabulate(64)(i => (((i % 7) - 3) / 4.0).toFloat).toSeq

    // build ALL indexes first (one timed build each), then measure the
    // four serve legs over INTERLEAVED passes — back-to-back repeats of
    // one measurement are the non-robust form (container-load drift
    // lands entirely on one leg; see CLAUDE.md / Bench).
    // recall@10 vs brute force over sampled CORPUS queries — the
    // quality claim at the same scale as the latency claim (the small
    // adversarial-geometry recall gate lives in PropertySpec; this
    // measures the real corpus at ×N). One corpus pass scores ALL
    // sampled queries (broadcast query relation + window rank);
    // ANN answers come from the same served probes the legs time.
    def recallAt10(dir: String, ivfDir: String,
        ivfTrainedDir: String): (Double, Double, Double, Double) = {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val sample = emb.orderBy("vec_id").limit(2000)
        .filter(col("vec_id") % 199 === 3).limit(10)
        .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
      // fail LOUDLY if a future corpus layout defeats the modulus
      // sampling predicate — 0.0/0 would otherwise print NaN recall
      require(sample.nonEmpty,
        s"recall sample empty under $dir — vec_id%199==3 matched nothing " +
          "in the first 2000 rows; adjust the sampling predicate")
      val q = sample.toDF("qid", "qe")
        .withColumn("qnorm", sqrt(graft.ops.Similarity.dot(col("qe"), col("qe"))))
      val cos = graft.ops.Similarity.dot(col("embedding"), col("qe")) /
        (sqrt(graft.ops.Similarity.dot(col("embedding"), col("embedding"))) * col("qnorm"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
      val truth = emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), cos.as("cos"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
      def recallOf(answer: (Long, Seq[Float]) => Set[Long]): Double =
        sample.map { case (qid, qe) =>
          answer(qid, qe).intersect(truth(qid)).size / 10.0
        }.sum / sample.size
      val plain = recallOf { (qid, qe) =>
        graft.ops.Similarity.ivfProbeVectorServed(spark, ivfDir, qe, k = 11)
          .collect().map(_.getLong(0)).filter(_ != qid).take(10).toSet
      }
      val rerank = recallOf { (qid, qe) =>
        graft.ops.Similarity.ivfProbeVectorRerankedServed(spark, ivfDir, qe,
          exclude = Some(qid)).collect().map(_.getLong(0)).toSet
      }
      val rerankPq = recallOf { (qid, qe) =>
        graft.ops.Similarity.ivfProbeVectorRerankedServedPq(spark, ivfDir, qe,
          exclude = Some(qid)).collect().map(_.getLong(0)).toSet
      }
      val rerankPqTrained = recallOf { (qid, qe) =>
        graft.ops.Similarity.ivfProbeVectorRerankedServedPq(spark,
          ivfTrainedDir, qe, exclude = Some(qid))
          .collect().map(_.getLong(0)).toSet
      }
      (plain, rerank, rerankPq, rerankPqTrained)
    }

    // SPARK_GRAFT_SOAK_LEGS=0 skips the timed serve legs (iterating on
    // the composed/rebucket soaks without re-paying four index builds)
    if (sys.env.getOrElse("SPARK_GRAFT_SOAK_LEGS", "1") == "1") {
    final case class Leg(tag: String, dir: String, name: String,
        serve: () => Unit, build: Double, docs: Long, vecs: Long,
        recall: Double = -1.0)
    val legs = Seq(("base", baseDir), (s"x$factor", soakDir)).flatMap {
      case (tag, dir) =>
        val docs = spark.read.parquet(s"$dir/documents.parquet").count()
        val vecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
        val lshDir = TempDirs.create(s"soak-lsh-$tag")
        val (_, lshBuild) = timed(graft.ops.Dedup.persistLshIndex(
          spark.read.parquet(s"$dir/documents.parquet"), lshDir))
        // the HOT-CELL twin: prefixLen=1 is 16 cells per band — at ×N
        // each probed cell holds many parquet pages of inlined shingle
        // sets, the model of the 100 TB regime. This is where the
        // two-stage probe's column-pruned screen has bytes to save; at
        // page-sized cells (the default 256-cell layout above) it is
        // overhead-bound instead. (prefixLen=0 is REJECTED by the
        // layout: an empty cell prefix writes HIVE-default-partition
        // paths no probe matches.)
        val lshHotDir = TempDirs.create(s"soak-lshh-$tag")
        val (_, lshHotBuild) = timed(graft.ops.Dedup.persistLshIndex(
          spark.read.parquet(s"$dir/documents.parquet"), lshHotDir,
          prefixLen = 1))
        val probe = probeDocs(dir)
        probe.collect() // materialize the probe outside the timed region
        val ivfDir = TempDirs.create(s"soak-ivf-$tag")
        val idx = graft.ops.Similarity.buildIvfIndexFrom(
          spark.read.parquet(s"$dir/embeddings.parquet"))
        val (_, ivfBuild) = timed(graft.ops.Similarity.persistIvfIndex(idx, ivfDir))
        // the trained-codebook twin: same index, persisted with a
        // 3-iteration per-subspace Lloyd refinement — the build delta
        // is the training price, the recall delta the fidelity gain
        val ivfTrainedDir =
          TempDirs.create(s"soak-ivft-$tag")
        val (_, ivfTrainedBuild) = timed(graft.ops.Similarity.persistIvfIndex(
          idx, ivfTrainedDir, trainPqIters = 3))
        val (plainRecall, rerankRecall, rerankPqRecall, rerankPqTrainedRecall) =
          recallAt10(dir, ivfDir, ivfTrainedDir)
        Seq(
          Leg(tag, dir, "lsh_serve",
            () => { graft.ops.Dedup.nearDupCheck(spark, lshDir, probe).collect(); () },
            lshBuild, docs, vecs),
          // the two-stage twin: column-pruned candidate screen, then
          // the exact verify over survivor sigs only — the number that
          // shows whether skipping the fat shingle column in hot cells
          // pays for the second (narrow) scan at ×N
          Leg(tag, dir, "lsh_2stage",
            () => { graft.ops.Dedup.nearDupCheck(spark, lshDir, probe,
              twoStage = true).collect(); () },
            lshBuild, docs, vecs),
          // hot-cell pair: same probe, one fat cell per band — the
          // one-pass form must read every row's shingle set, the
          // two-stage form screens on (doc_id, sig) first
          Leg(tag, dir, "lsh_hot",
            () => { graft.ops.Dedup.nearDupCheck(spark, lshHotDir, probe)
              .collect(); () },
            lshHotBuild, docs, vecs),
          Leg(tag, dir, "lsh_hot_2s",
            () => { graft.ops.Dedup.nearDupCheck(spark, lshHotDir, probe,
              twoStage = true).collect(); () },
            lshHotBuild, docs, vecs),
          Leg(tag, dir, "ivf_serve",
            () => { graft.ops.Similarity.ivfProbeVectorServed(spark, ivfDir, qvec).collect(); () },
            ivfBuild, docs, vecs, plainRecall),
          // the re-ranking leg at soak scale: sketch stage over 8
          // cells' int8 codes, exact cosine in the 2 chosen cells —
          // must stay interactive alongside the plain probe as the
          // corpus grows (sketch bytes track probed cells too)
          Leg(tag, dir, "ivf_rerank",
            () => { graft.ops.Similarity.ivfProbeVectorRerankedServed(
              spark, ivfDir, qvec).collect(); () },
            ivfBuild, docs, vecs, rerankRecall),
          // the PQ codec's leg: same chain, stage 1 reads 8 bit-packed
          // codes per row (⅛ the int8 sketch's bytes) — the curve to
          // watch is whether its recall tracks the int8 codec's while
          // the code-stage read shrinks
          Leg(tag, dir, "ivf_rr_pq",
            () => { graft.ops.Similarity.ivfProbeVectorRerankedServedPq(
              spark, ivfDir, qvec).collect(); () },
            ivfBuild, docs, vecs, rerankPqRecall),
          Leg(tag, dir, "ivf_rr_pqt",
            () => { graft.ops.Similarity.ivfProbeVectorRerankedServedPq(
              spark, ivfTrainedDir, qvec).collect(); () },
            ivfTrainedBuild, docs, vecs, rerankPqTrainedRecall))
    }
    val passes = (1 to 3).map(_ => legs.map(l => timed(l.serve())._2))
    // input-BYTES pass: local NVMe bandwidth hides byte savings that
    // dominate on object storage (the s3a-relevant serving number) —
    // one extra pass per leg summing executor task inputMetrics. The
    // listener bus is async; the short drain sleep before unregister
    // loses at most a trailing task's bytes, fine for a soak report.
    val legBytes = legs.map { l =>
      val acc = new java.util.concurrent.atomic.AtomicLong
      val lst = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null) acc.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
      spark.sparkContext.addSparkListener(lst)
      try { l.serve(); Thread.sleep(500) }
      finally spark.sparkContext.removeSparkListener(lst)
      acc.get()
    }
    for ((leg, i) <- legs.zipWithIndex) {
      val serve = Bench.median(passes.drop(1).map(_(i)))
      val recall = if (leg.recall < 0) "    -" else f"${leg.recall}%5.2f"
      val mb = legBytes(i) / 1e6
      println(f"[servesoak] ${leg.tag}%-5s ${leg.name}%-9s docs=${leg.docs}%8d " +
        f"vecs=${leg.vecs}%8d build=${leg.build}%7.2fs serve=$serve%6.2fs " +
        f"read=$mb%8.1fMB recall@10=$recall")
    }
    }

    // REBUCKET-UNDER-INGEST soak (the composed-topology pattern of the
    // IVF autopilot race, LSH flavor): a live dedupIngest stream keeps
    // committing micro-batch decisions against the ×N hot layout
    // (prefixLen=1 — one fat cell per band) while a maintenance thread
    // re-buckets the index one char finer with NO coordination. The
    // claim under test is mixed-length serving through the transition:
    // per-batch ingest wall-clock must show no cliff while the fold
    // runs or after the swap, and every batch's decision log must
    // land. The two-stage AUTO decision is reported before/after — at
    // ×N the fat pre-rebucket layout reads two-stage, the folded one
    // page-sized — so the probe PLAN moves with the layout mid-stream.
    // SPARK_GRAFT_SOAK_REBUCKET=0 skips the leg.
    if (sys.env.getOrElse("SPARK_GRAFT_SOAK_REBUCKET", "1") == "1") {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val idxDir = TempDirs.create("soak-rbk-idx")
      val (_, rbkBuild) = timed(graft.ops.Dedup.persistLshIndex(
        spark.read.parquet(s"$soakDir/documents.parquet"), idxDir,
        prefixLen = 1))
      val outDir = TempDirs.create("soak-rbk-out")
      val corpus = spark.read.parquet(s"$soakDir/documents.parquet")
        .orderBy("doc_id").limit(600).select("doc_id", "text")
        .as[(Long, String)].collect()
      val nBatches = 8
      val perBatch = 120
      // half near-copies of corpus docs (the verify stage has real
      // candidates), half fresh (the accept + append route runs too)
      def batchDocs(b: Int): Seq[(Long, String)] =
        (0 until perBatch).map { i =>
          val g = b * perBatch + i
          val srcText = corpus(g % corpus.length)._2
          if (i % 2 == 0)
            (8000000000L + g, srcText.replaceFirst(" [a-z]+$", " zz"))
          else
            (8100000000L + g,
              s"fresh w${g * 13 % 9973} w${g * 7 % 9973} ${srcText.take(40)}")
        }
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamOps.dedupIngest(
        in.toDS().toDF("doc_id", "text"), idxDir, outDir)
        .option("checkpointLocation",
          TempDirs.create("soak-rbk-ckpt"))
        .start()
      // two uncoordinated transitions under the live stream: UP
      // (1 → 2, the hot-cell repair) at batch 3 and back DOWN
      // (2 → 1, the cold-layout fold) at batch 6 — both directions of
      // the autopilot's Rebucket action must serve through the swap
      @volatile var rbkSec = -1.0
      @volatile var rbkDownSec = -1.0
      @volatile var rbkError: Option[Throwable] = None
      def rbkThread(len: Int, record: Double => Unit) = new Thread(() => {
        try {
          val t0 = System.nanoTime()
          graft.ops.Dedup.rebucketLshIndex(spark, idxDir, len)
          record((System.nanoTime() - t0) / 1e9)
        } catch { case t: Throwable => rbkError = Some(t) }
      })
      val rbkUp = rbkThread(2, rbkSec = _)
      val rbkDown = rbkThread(1, rbkDownSec = _)
      val autoBefore = graft.ops.Dedup.twoStageAuto(spark, idxDir)
      // the observable that actually shows the plan moving with the
      // layout: the probe form EACH BATCH resolved (the fat_layout
      // before/after snapshots alone can't — both ends of this soak
      // are fat len-1 layouts, so they read true->true while the
      // mid-stream len-2 window is where the flip happens)
      val probeForms = Array.fill(nBatches)("-")
      val batchSecs =
        try (0 until nBatches).map { b =>
          if (b == 3) rbkUp.start()
          if (b == 6) { rbkUp.join(); rbkDown.start() }
          val t0 = System.nanoTime()
          in.addData(batchDocs(b): _*)
          q.processAllAvailable()
          probeForms(b) = graft.ops.Dedup.lastTwoStageDecision(idxDir)
            .map(d => if (d) "2s" else "1p").getOrElse("-")
          (System.nanoTime() - t0) / 1e9
        } finally {
          q.stop()
          Seq(rbkUp, rbkDown).foreach(t =>
            if (t.getState != Thread.State.NEW) t.join())
        }
      rbkError.foreach(t => throw t)
      require(rbkSec > 0 && rbkDownSec > 0, "a rebucket thread never completed")
      val autoAfter = graft.ops.Dedup.twoStageAuto(spark, idxDir)
      // explicit schema (the never-infer rule): the decision log is
      // non-empty by construction here, but batch-output dirs are
      // exactly the class inference must never touch
      val decisionSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, dup_of BIGINT, jac DOUBLE")
      val decisions = (0 until nBatches)
        .map(b => spark.read.schema(decisionSchema)
          .parquet(s"$outDir/b$b").count()).sum
      require(decisions == nBatches.toLong * perBatch,
        s"lost decisions through the transition: $decisions")
      println(f"[servesoak] x$factor%-4d rebucket_under_ingest " +
        f"build=$rbkBuild%6.2fs up=$rbkSec%6.2fs down=$rbkDownSec%6.2fs " +
        s"len=${graft.ops.Dedup.lshPrefixLenOf(spark, idxDir)} " +
        s"fat_layout=$autoBefore->$autoAfter decisions=$decisions " +
        s"probe=${probeForms.mkString("[", ",", "]")} batch_secs=" +
        batchSecs.map(s => f"$s%.2f").mkString("[", ",", "]"))
    }

    // DELTA SMALL-FILE PRESSURE: the measurement behind
    // Policy.maxDeltaFiles — a many-tiny-batches backlog taxes every
    // probe with per-delta cell listings/footers long before row mass
    // justifies a fold. Build the index, land 40 one-doc deltas
    // (~80-240 cell dirs of FS metadata), time the SAME probe before,
    // tick the autopilot with a file floor (row/batch thresholds set
    // too high to fire — the new signal must do it), and time after.
    // SPARK_GRAFT_SOAK_FILES=0 skips the leg.
    if (sys.env.getOrElse("SPARK_GRAFT_SOAK_FILES", "1") == "1") {
      import spark.implicits._
      import graft.ops.{Dedup, IndexMaintenance}
      val fDir = TempDirs.create("soak-files-lsh")
      Dedup.persistLshIndex(
        spark.read.parquet(s"$soakDir/documents.parquet"), fDir)
      val corpus = spark.read.parquet(s"$soakDir/documents.parquet")
        .orderBy("doc_id").limit(50).select("doc_id", "text")
        .as[(Long, String)].collect()
      for (b <- 0 until 40)
        Dedup.appendToLshIndex(spark, fDir,
          Seq((9000000000L + b) -> corpus(b % corpus.length)._2
            .replaceFirst(" [a-z]+$", s" q$b")).toDF("doc_id", "text"),
          batchId = b + 1L)
      val probe = probeDocs(soakDir)
      probe.collect()
      def probeSecs(n: Int): Seq[Double] = (1 to n).map(_ =>
        timed(Dedup.nearDupCheck(spark, fDir, probe).collect())._2)
      val filesBefore = IndexMaintenance.lshSignals(spark, fDir).deltaFiles
      val before = probeSecs(5)
      val policy = IndexMaintenance.Policy(backlogRatio = 0.9,
        backlogBatches = 1000, maxDeltaFiles = 40L)
      val action = IndexMaintenance.maintainLshIndex(spark, fDir, policy)
      require(action == IndexMaintenance.Compact,
        s"file-pressure floor did not trip the fold: $action")
      val filesAfter = IndexMaintenance.lshSignals(spark, fDir).deltaFiles
      val after = probeSecs(5)
      println(f"[servesoak] x$factor%-4d delta_file_pressure " +
        s"files=$filesBefore->$filesAfter action=$action " +
        s"probe_before=${before.map(s => f"$s%.2f").mkString("[", ",", "]")} " +
        s"probe_after=${after.map(s => f"$s%.2f").mkString("[", ",", "]")} " +
        f"median=${Bench.median(before)}%.2f->${Bench.median(after)}%.2f s")
    }

    // TOMBSTONE ROW-MASS PRESSURE: the measurement behind
    // Policy.maxTombRows — a single fat takedown is ONE delta file and
    // zero band rows, so it trips neither the row/batch backlog nor
    // maxDeltaFiles, yet every probe pays a broadcast anti-join of its
    // key mass until a fold applies + retires it. Time the SAME probe
    // at zero tombstones (the minusTombs identity fast path), under
    // two takedown masses, and after the fold that the tombRows floor
    // alone trips. Keys are ABSENT ids throughout: the anti-join tax
    // depends on key mass, not on whether the keys still match
    // anything. SPARK_GRAFT_SOAK_TOMB=0 skips the leg.
    if (sys.env.getOrElse("SPARK_GRAFT_SOAK_TOMB", "1") == "1") {
      import spark.implicits._
      import graft.ops.{Dedup, IndexMaintenance}
      val tDir = TempDirs.create("soak-tomb-lsh")
      Dedup.persistLshIndex(
        spark.read.parquet(s"$soakDir/documents.parquet"), tDir)
      val probe = probeDocs(soakDir)
      probe.collect()
      def probeSecs(n: Int): Seq[Double] = (1 to n).map(_ =>
        timed(Dedup.nearDupCheck(spark, tDir, probe).collect())._2)
      val zero = probeSecs(5)
      Dedup.deleteFromLshIndex(spark, tDir,
        spark.range(10000000L, 10200000L).toDF("doc_id"), batchId = 1L)
      val m200k = probeSecs(5)
      Dedup.deleteFromLshIndex(spark, tDir,
        spark.range(20000000L, 21000000L).toDF("doc_id"), batchId = 2L)
      val m1200k = probeSecs(5)
      val massBefore = IndexMaintenance.lshSignals(spark, tDir).tombRows
      require(massBefore == 1200000L,
        s"ledger-recorded tombstone mass wrong: $massBefore")
      // a data batch ABOVE the takedowns so the fold RETIRES them (the
      // orphan-guard floor rule), then the tombRows floor alone trips
      // the fold — row/batch/file thresholds all quiet
      Dedup.appendToLshIndex(spark, tDir,
        Seq(7000000000L -> "tombstone soak filler doc").toDF("doc_id", "text"),
        batchId = 3L)
      val tombPolicy = IndexMaintenance.Policy(backlogRatio = 0.9,
        backlogBatches = 1000, maxTombRows = 100000L)
      val tombAction = IndexMaintenance.maintainLshIndex(spark, tDir, tombPolicy)
      require(tombAction == IndexMaintenance.Compact,
        s"tombstone row-mass floor did not trip the fold: $tombAction")
      val massAfter = IndexMaintenance.lshSignals(spark, tDir).tombRows
      require(massAfter == 0L,
        s"fold did not retire the takedowns: $massAfter")
      val afterFold = probeSecs(5)
      println(f"[servesoak] x$factor%-4d tombstone_mass_pressure " +
        s"mass=$massBefore->$massAfter action=$tombAction " +
        f"probe_zero=${Bench.median(zero)}%.2fs " +
        f"probe_200k=${Bench.median(m200k)}%.2fs " +
        f"probe_1200k=${Bench.median(m1200k)}%.2fs " +
        f"probe_after_fold=${Bench.median(afterFold)}%.2fs")
    }

    // ALL-SIGNALS COMPOSED SOAK: every autopilot arc enabled AT ONCE on
    // BOTH index families — LSH hot/cold re-bucketing, row/batch/file
    // backlog folds, IVF drift → Lloyd with PQ training riding — under
    // a live dedupIngest stream, a live annIngest stream, periodic ANN
    // serving, and a mid-soak retention delete on each index. The arcs
    // are each soaked individually elsewhere; THIS leg is the
    // interaction claim: with everything firing against the same two
    // layouts, (1) every batch's decision log lands, (2) probes honor
    // the deletes immediately and permanently, (3) the maintenance
    // loop converges to NoOp once ingest stops (signals self-clear, no
    // flip-flop), (4) no torn state — every resolve/probe on the way
    // out succeeds. SPARK_GRAFT_SOAK_COMPOSED=0 skips the leg.
    if (sys.env.getOrElse("SPARK_GRAFT_SOAK_COMPOSED", "1") == "1") {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.ops.{Dedup, IndexMaintenance, Similarity}
      val lshDir = TempDirs.create("soak-all-lsh")
      val (_, lshBuild) = timed(Dedup.persistLshIndex(
        spark.read.parquet(s"$soakDir/documents.parquet"), lshDir,
        prefixLen = 1))
      val lshOut = TempDirs.create("soak-all-lshout")
      val ivfDir = TempDirs.create("soak-all-ivf")
      val (_, ivfBuild) = timed(Similarity.persistIvfIndex(
        Similarity.buildIvfIndexFrom(
          spark.read.parquet(s"$soakDir/embeddings.parquet")), ivfDir))
      val corpus = spark.read.parquet(s"$soakDir/documents.parquet")
        .orderBy("doc_id").limit(600).select("doc_id", "text")
        .as[(Long, String)].collect()
      val nBatches = 10
      val perBatch = 120
      def batchDocs(b: Int): Seq[(Long, String)] =
        (0 until perBatch).map { i =>
          val g = b * perBatch + i
          val srcText = corpus(g % corpus.length)._2
          if (i % 2 == 0)
            (8000000000L + g, srcText.replaceFirst(" [a-z]+$", " zz"))
          else
            (8100000000L + g,
              s"fresh w${g * 13 % 9973} w${g * 7 % 9973} ${srcText.take(40)}")
        }
      val spike = (Seq(8f, 8f, 8f, 8f) ++ Seq.fill(60)(0f))
      def batchVecs(b: Int): Seq[(Long, Seq[Float])] =
        (0 until 60).map { i =>
          val g = b * 60 + i
          if (b == 1 && i == 0) (9000000000L, spike)
          else (8200000000L + g,
            Seq.tabulate(64)(d => ((g * 31 + d * 17) % 100) / 50f - 1f))
        }
      // hot fires on the first tick (the fat len-1 layout), then must
      // NOT re-trip after the split; cold is enabled with a floor low
      // enough that the veto, not luck, is what prevents a flip-flop
      val hotFloor = math.max(1L,
        IndexMaintenance.lshSignals(spark, lshDir).hottestCellRows / 2)
      val lshPolicy = IndexMaintenance.Policy(backlogRatio = 0.02,
        backlogBatches = 3, hotCellRows = hotFloor, coldCellRows = 8,
        maxDeltaFiles = 24)
      val ivfPolicy = IndexMaintenance.Policy(backlogRatio = 0.02,
        backlogBatches = 3, driftBound = 0.05, lloydIters = 1,
        trainPqIters = 1)
      val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      @volatile var maintErr: Option[Throwable] = None
      @volatile var ingestDone = false
      val maint = new Thread(() => {
        try while (!ingestDone) {
          val a = IndexMaintenance.maintainLshIndex(spark, lshDir, lshPolicy)
          if (a != IndexMaintenance.NoOp) actions.add(s"lsh:$a")
          val b = IndexMaintenance.maintainIvfIndex(spark, ivfDir, ivfPolicy)
          if (b != IndexMaintenance.NoOp) actions.add(s"ivf:$b")
          Thread.sleep(300)
        } catch { case t: Throwable => maintErr = Some(t) }
      })
      val docsIn = MemoryStream[(Long, String)]
      val qd = graft.streaming.StreamOps.dedupIngest(
        docsIn.toDS().toDF("doc_id", "text"), lshDir, lshOut)
        .option("checkpointLocation",
          TempDirs.create("soak-all-dckpt"))
        .start()
      val vecsIn = MemoryStream[(Long, Seq[Float])]
      val qv = graft.streaming.StreamOps.annIngest(
        vecsIn.toDS().toDF("vec_id", "embedding"), ivfDir)
        .option("checkpointLocation",
          TempDirs.create("soak-all-vckpt"))
        .start()
      val deletedDocs = corpus.take(10).map(_._1).toSeq
      val batchSecs =
        try (0 until nBatches).map { b =>
          if (b == 1) maint.start()
          // retention deletes issued from the writer context BETWEEN
          // micro-batches, on each stream's own id axis: the LSH one
          // takes effect from doc-batch 5, the IVF one from the next
          // serve (tombstones apply to all un-scoped probes)
          if (b == 5) {
            // unchecked forms: the soak driver IS the single writer
            // and the streams are drained between addData calls, so
            // this sits in the sequential-writer slot the r13 axis
            // guard exists to protect — the PUBLIC forms would reject
            // these ids as above the streams' last claimed batch
            // (exactly the race an external caller must not run)
            Dedup.deleteFromLshIndexUnchecked(spark, lshDir,
              deletedDocs.toDF("doc_id"), batchId = 5L)
            Similarity.deleteFromIvfIndexUnchecked(spark, ivfDir,
              Seq(9000000000L).toDF("vec_id"), batchId = 6L)
          }
          val t0 = System.nanoTime()
          docsIn.addData(batchDocs(b): _*)
          vecsIn.addData(batchVecs(b): _*)
          qd.processAllAvailable()
          qv.processAllAvailable()
          // serving rides along: the ANN probe must stay correct under
          // every concurrent arc — the spike is the top hit while it
          // lives, absent after its delete
          val hits = Similarity.ivfProbeVectorServed(spark, ivfDir, spike)
            .collect().map(_.getLong(0)).toSeq
          if (b >= 1 && b < 5)
            require(hits.headOption.contains(9000000000L),
              s"batch $b: live spike not served: ${hits.take(3)}")
          if (b >= 5) {
            require(!hits.contains(9000000000L),
              s"batch $b: deleted spike still served")
            require(hits.nonEmpty, s"batch $b: ANN serving went empty")
          }
          (System.nanoTime() - t0) / 1e9
        } finally {
          qd.stop(); qv.stop()
          ingestDone = true
          if (maint.getState != Thread.State.NEW) maint.join()
        }
      maintErr.foreach(t => throw t)
      // convergence: with ingest stopped, a bounded run of ticks must
      // reach NoOp on BOTH families and stay there (self-clearing
      // signals; the hot/cold veto pair can't flip-flop)
      var settleTicks = 0
      while (settleTicks < 8 && (
          IndexMaintenance.planLsh(spark, lshDir, lshPolicy) != IndexMaintenance.NoOp ||
          IndexMaintenance.planIvf(spark, ivfDir, ivfPolicy) != IndexMaintenance.NoOp)) {
        val a = IndexMaintenance.maintainLshIndex(spark, lshDir, lshPolicy)
        if (a != IndexMaintenance.NoOp) actions.add(s"settle-lsh:$a")
        val b = IndexMaintenance.maintainIvfIndex(spark, ivfDir, ivfPolicy)
        if (b != IndexMaintenance.NoOp) actions.add(s"settle-ivf:$b")
        settleTicks += 1
      }
      require(IndexMaintenance.planLsh(spark, lshDir, lshPolicy) ==
        IndexMaintenance.NoOp, "LSH signals did not self-clear")
      require(IndexMaintenance.planIvf(spark, ivfDir, ivfPolicy) ==
        IndexMaintenance.NoOp, "IVF signals did not self-clear")
      import scala.jdk.CollectionConverters._
      val acts = actions.asScala.toSeq
      require(acts.exists(_.contains("Rebucket")),
        s"the hot-cell arc never fired — the leg is vacuous: $acts")
      require(acts.exists(_.contains("Compact")) ||
        acts.exists(_.contains("Lloyd")),
        s"no fold ever fired under 10 ingest batches: $acts")
      // decision log intact: one row per unique incoming doc, every
      // batch — "unique" by the ingest operator's own exact-fingerprint
      // contract (the corpus contains genuine dup-text pairs, so two
      // same-batch near-copies can legitimately collapse; raw doc
      // count is NOT the invariant)
      val decisionSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, dup_of BIGINT, jac DOUBLE")
      val decisions = (0 until nBatches)
        .map(b => spark.read.schema(decisionSchema)
          .parquet(s"$lshOut/b$b").count()).sum
      val expectedDecisions = (0 until nBatches).map { b =>
        batchDocs(b).toDF("doc_id", "text")
          .select(md5(concat_ws(" ",
            array_sort(array_distinct(split(col("text"), " "))))).as("fp"))
          .distinct().count()
      }.sum
      require(decisions == expectedDecisions,
        s"lost decisions through the composed soak: $decisions != $expectedDecisions")
      // the LSH delete is honored THROUGH the folds that followed it:
      // a probe of a deleted doc's text must never name a deleted id
      // (its batch-accepted near-copies may legitimately match)
      val probeDel = Dedup.nearDupCheck(spark, lshDir,
        Seq(7777777777L -> corpus.head._2).toDF("doc_id", "text"))
        .collect().map(_.getLong(1)).toSet
      require(probeDel.intersect(deletedDocs.toSet).isEmpty,
        s"deleted docs resurfaced after folds: $probeDel")
      val dLog = (0 until nBatches).flatMap(b =>
        spark.read.schema(decisionSchema).parquet(s"$lshOut/b$b")
          .filter(col("dup_of").isNotNull).collect()
          .map(r => (b, r.getLong(1))))
      require(!dLog.exists { case (b, d) => b >= 5 && deletedDocs.contains(d) },
        "a post-delete batch flagged a doc against a deleted index doc")
      println(f"[servesoak] x$factor%-4d all_signals_composed " +
        f"lsh_build=$lshBuild%6.2fs ivf_build=$ivfBuild%6.2fs " +
        s"decisions=$decisions settle_ticks=$settleTicks " +
        s"actions=${acts.mkString("[", ",", "]")} batch_secs=" +
        batchSecs.map(s => f"$s%.2f").mkString("[", ",", "]"))
    }
    // MM COMPOSED soak (round 14): the byte-gram index shares every
    // piece of LSH machinery, but its COST PROFILE — payload-bytes
    // scan + gram explode map-side, zero payload shuffle — was
    // unexercised at ×N. One single-family arc: build the ×N gram
    // index, run a live mmDedupIngestCdc stream (the ENFORCED
    // takedown path: deletes ride the CDC feed itself), tick the
    // autopilot until a fold fires, and time the SAME serve probe
    // before / during / after — the claim is flat serve legs through
    // folds with the takedown honored across them.
    // SPARK_GRAFT_SOAK_MM=0 skips the leg.
    if (sys.env.getOrElse("SPARK_GRAFT_SOAK_MM", "1") == "1") {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.ops.{Dedup, IndexMaintenance, Multimodal}
      val mmDir = TempDirs.create("soak-mm-idx")
      val (_, mmBuild) = timed(Dedup.persistLshIndexElems(
        Multimodal.payloadGrams(Multimodal.pngPayloads(spark, soakDir)),
        mmDir))
      // driver-side payload pool: corpus payloads to near-copy, their
      // byte bodies are the docs' text by construction. Victims and
      // probe sources need BODY MASS: a short body gives the sampled
      // 8-byte-gram pipeline so few grams that a tail edit can flip
      // both band minima (measured at ×100 — the first premise run
      // tripped on exactly this), so pick docs with ≥64 body bytes.
      val pool = Multimodal.pngPayloads(spark, soakDir)
        .filter(octet_length(col("payload")) >= 29 + 64)
        .orderBy("doc_id").limit(600)
        .select("doc_id", "payload").as[(Long, Array[Byte])].collect()
      require(pool.length >= 300,
        s"mm soak pool too thin (${pool.length}): corpus bodies shrank")
      def nearCopy(p: Array[Byte]): Array[Byte] =
        p.dropRight(3) ++ "zz!".getBytes("UTF-8")
      def fresh(g: Int): Array[Byte] =
        Array.fill[Byte](29)(0) ++ (0 until 24)
          .map(j => s"m${(g * 11 + j * 19) % 7919}").mkString(" ")
          .getBytes("UTF-8")
      // the serve probe: near-copies of 5 indexed payloads — timed
      // identically at every stage
      val probePay = pool.take(5).map { case (id, p) =>
        (id + 10000000L, nearCopy(p)) }.toSeq.toDF("doc_id", "payload")
      probePay.collect()
      def serveSecs(): Double = timed(
        Dedup.nearDupCheckElems(spark, mmDir,
          Multimodal.payloadGrams(probePay)).collect())._2
      val serveBefore = (1 to 3).map(_ => serveSecs()).min
      val victims = pool.slice(5, 15).map(_._1).toSeq
      // victim visibility premise: an EXACT copy of victim 0's payload
      // (identical gram set — the match is structural, not
      // threshold-marginal) must name it BEFORE the takedown or the
      // after-assert is vacuous
      val victimProbe = Seq((7777777777L, pool(5)._2))
        .toDF("doc_id", "payload")
      require(Dedup.nearDupCheckElems(spark, mmDir,
          Multimodal.payloadGrams(victimProbe))
        .collect().map(_.getLong(1)).contains(victims.head),
        "mm soak premise broken: victim payload not matched pre-delete")
      val mmOut = TempDirs.create("soak-mm-out")
      val in = MemoryStream[(String, Long, Array[Byte])]
      val q = graft.streaming.StreamOps.mmDedupIngestCdc(
        in.toDS().toDF("op", "doc_id", "payload"), mmDir, mmOut)
        .option("checkpointLocation",
          TempDirs.create("soak-mm-ckpt"))
        .start()
      val nBatches = 6
      val perBatch = 100
      val policy = IndexMaintenance.Policy(backlogRatio = 0.02,
        backlogBatches = 3)
      val actions = scala.collection.mutable.ArrayBuffer.empty[String]
      val serveDuring =
        try (0 until nBatches).map { b =>
          val adds = (0 until perBatch).map { i =>
            val g = b * perBatch + i
            if (i % 2 == 0)
              ("insert", 8500000000L + g, nearCopy(pool(g % pool.length)._2))
            else ("insert", 8600000000L + g, fresh(g))
          }
          // batch 3 carries the takedown IN the change feed — the
          // enforced stream-driven path, all within the writer slot
          val rows = if (b == 3)
            victims.map(v => ("delete", v, Array.empty[Byte])) ++ adds
          else adds
          in.addData(rows: _*)
          q.processAllAvailable()
          // autopilot ticks BETWEEN batches, same cadence pattern as
          // the composed leg but sequential (one family, one writer)
          val a = IndexMaintenance.maintainLshIndex(spark, mmDir, policy)
          if (a != IndexMaintenance.NoOp) actions += s"b$b:$a"
          serveSecs()
        } finally q.stop()
      // settle: signals must self-clear once ingest stops
      var settle = 0
      while (settle < 8 &&
          IndexMaintenance.planLsh(spark, mmDir, policy) != IndexMaintenance.NoOp) {
        val a = IndexMaintenance.maintainLshIndex(spark, mmDir, policy)
        if (a != IndexMaintenance.NoOp) actions += s"settle:$a"
        settle += 1
      }
      require(actions.exists(_.contains("Compact")),
        s"no fold fired across $nBatches mm ingest batches: $actions")
      val serveAfter = (1 to 3).map(_ => serveSecs()).min
      // takedown honored THROUGH the folds: the victim's near-copy
      // probe must never name a deleted id again
      val afterDel = Dedup.nearDupCheckElems(spark, mmDir,
          Multimodal.payloadGrams(victimProbe))
        .collect().map(_.getLong(1)).toSet
      require(afterDel.intersect(victims.toSet).isEmpty,
        s"mm takedown leaked through folds: $afterDel")
      println(f"[servesoak] x$factor%-4d mm_composed build=$mmBuild%7.2fs " +
        f"serve_before=$serveBefore%5.2fs serve_after_folds=$serveAfter%5.2fs " +
        s"serve_during=${serveDuring.map(s => f"$s%.2f").mkString("[", ",", "]")} " +
        s"actions=${actions.mkString("[", ",", "]")} settle_ticks=$settle")
    }
    // IVF k-EXPANSION UNDER GROWTH (VERDICT r14 item 3): the coarse
    // centroid count was a build-time knob, so a corpus that grew ×N at
    // fixed k fattens every cell ×N and probe cost follows (nprobe·N/k).
    // This leg measures exactly that regime on CLUSTERED vectors (the
    // geometry ANN exists for — the blowup corpus' embeddings are
    // isotropic, where no partitioned index can concentrate neighbors):
    // nVecs = 2000·factor vectors in ≈√nVecs tight blobs, indexed
    // COARSELY at k=10. Claims: (1) the autopilot's hotCellMass tick
    // fires from the mean-mass signal alone and re-clusters toward √N;
    // (2) served probe latency falls toward the cell-mass ratio — the
    // flat-at-scale story: at √N cells a ×100 corpus probes ×10 the
    // rows, not ×100; (3) recall@10 at the SAME nprobe holds through
    // the re-cluster; (4) serving stays live DURING the expansion
    // (concurrent probes against the old generation until the atomic
    // swap); (5) the signal self-clears — the next tick no-ops.
    // SPARK_GRAFT_SOAK_EXPANDK=0 skips the leg.
    if (sys.env.getOrElse("SPARK_GRAFT_SOAK_EXPANDK", "1") == "1") {
      import spark.implicits._
      import graft.ops.{IndexMaintenance, Similarity}
      val nVecs = 2000L * factor
      val nBlobs = math.max(16, math.ceil(math.sqrt(nVecs.toDouble)).toInt)
      val rnd = new scala.util.Random(15)
      val dirs = Seq.tabulate(nBlobs) { b =>
        val v = Array.fill(64)(rnd.nextGaussian())
        val n = math.sqrt(v.map(x => x * x).sum)
        (b, v.map(_ / n).toSeq)
      }
      val dirsDf = dirs.toDF("blob", "dir")
      // per-(row,dim) noise from hash arithmetic — the corpus is a pure
      // function of (factor, seed), generated distributed (never a
      // driver-side 200k×64 array)
      val vecs = spark.range(nVecs).select(
          col("id").as("vec_id"),
          (col("id") % nBlobs).cast("int").as("blob"),
          ((col("id") % nBlobs) % 10).cast("int").as("label"))
        .join(broadcast(dirsDf), "blob")
        .select(col("vec_id"), col("label"),
          expr("transform(dir, (d, i) -> CAST(d + 0.12 * " +
            "(pmod(hash(vec_id, i), 1000) / 500.0 - 1.0) AS FLOAT))")
            .as("embedding"))
      val kDir = TempDirs.create("soak-expandk-ivf")
      val (_, kBuild) = timed(Similarity.persistIvfIndex(
        Similarity.buildIvfIndexFrom(vecs), kDir))
      val queries = vecs.filter(col("vec_id") % 997 === 5)
        .orderBy("vec_id").limit(8)
        .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
      require(queries.nonEmpty, "expandk query sample empty")
      // exact top-10 ground truth, one corpus pass over all queries
      val truth = {
        import org.apache.spark.sql.expressions.Window
        val q = queries.toDF("qid", "qe")
          .withColumn("qnorm", sqrt(Similarity.dot(col("qe"), col("qe"))))
        val cos = Similarity.dot(col("embedding"), col("qe")) /
          (sqrt(Similarity.dot(col("embedding"), col("embedding"))) * col("qnorm"))
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
        vecs.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), cos.as("cos"))
          .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
          .collect().groupBy(_.getLong(0))
          .view.mapValues(_.map(_.getLong(1)).toSet).toMap
      }
      def servePass(): (Double, Double) = timed {
        queries.map { case (qid, qe) =>
          val got = Similarity.ivfProbeVectorServed(spark, kDir, qe,
            k = 11, nprobe = 3)
            .collect().map(_.getLong(0)).filter(_ != qid).take(10).toSet
          require(got.size == 10, s"probe under-filled: ${got.size}")
          got.intersect(truth(qid)).size / 10.0
        }.sum / queries.size
      }
      val before = (1 to 5).map(_ => servePass())
      val kBefore = IndexMaintenance.ivfSignals(spark, kDir).cellCount
      // the budget an operator would set: the current mean (nVecs/10)
      // is over it at every factor, so the leg exercises the tick at
      // any soak size — the signal's own self-clear (k → √N drops the
      // mean under the bound) is still what ends the arc
      val policy = IndexMaintenance.Policy(hotCellMass = nVecs / 20,
        lloydIters = 2, driftBound = 1e9)
      // expansion on its own thread; serving stays live against the old
      // generation until the atomic manifest swap
      @volatile var expandSec = -1.0
      @volatile var action: IndexMaintenance.Action = IndexMaintenance.NoOp
      @volatile var expandError: Option[Throwable] = None
      val expander = new Thread(() => {
        try {
          val t0 = System.nanoTime()
          action = IndexMaintenance.maintainIvfIndex(spark, kDir, policy)
          expandSec = (System.nanoTime() - t0) / 1e9
        } catch { case t: Throwable => expandError = Some(t) }
      })
      expander.start()
      val during = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (expander.isAlive && during.size < 50) during += servePass()._2
      expander.join()
      expandError.foreach(t => throw t)
      require(action.isInstanceOf[IndexMaintenance.ExpandK],
        s"mean-mass tick did not expand: $action")
      val kAfter = IndexMaintenance.ivfSignals(spark, kDir).cellCount
      require(kAfter > kBefore, s"k did not grow: $kBefore -> $kAfter")
      require(IndexMaintenance.planIvf(spark, kDir, policy) ==
        IndexMaintenance.NoOp, "expansion signal did not self-clear")
      val after = (1 to 5).map(_ => servePass())
      val rb = before.map(_._1).max
      val ra = after.map(_._1).max
      require(ra >= rb - 0.05 && ra >= 0.85,
        f"recall dropped through k-expansion: $rb%.2f -> $ra%.2f")
      // min beside median — the repo's robust estimator (load only ever
      // inflates a sample): in the FULL soak this leg runs last, after
      // ~25 min of session accumulation, and the median alone misread
      // the expanded layout as slower when an idle JVM measures it
      // 2× FASTER (the layout itself: 1 file/cell, 3 cells probed)
      println(f"[servesoak] x$factor%-4d ivf_k_expansion n=$nVecs " +
        f"build=$kBuild%6.2fs k=$kBefore->$kAfter action=$action " +
        f"expand=$expandSec%6.2fs " +
        f"probe_before=${before.map(_._2).min}%.2f/${Bench.median(before.map(_._2))}%.2fs " +
        f"probe_after=${after.map(_._2).min}%.2f/${Bench.median(after.map(_._2))}%.2fs " +
        s"probe_during=${during.map(s => f"$s%.2f").mkString("[", ",", "]")} " +
        f"recall@10=$rb%.2f->$ra%.2f")
    }
    spark.stop()
  }
}
