package graft

import org.apache.spark.sql.functions._

/** Drives BOTH persisted-index families through their full lifecycle
  * with the index root spelled as a `file:` URI — a path that only the
  * Hadoop FileSystem API resolves (`new java.io.File("file:/tmp/x")`
  * names a relative file that never exists, so any `java.io` listing
  * or existence check left in the serving/compaction path would see an
  * empty index and fail these assertions). This is the round-7 "no
  * java.io leakage" gate on [[IndexFs]]: the same call sites resolve
  * `hdfs:`/`s3a:` on a cluster with zero code changes.
  */
class IndexFsSpec extends SparkSuite {
  import spark.implicits._

  private def uriDir(prefix: String): String =
    "file:" + java.nio.file.Files.createTempDirectory(prefix).toString

  test("LSH index lifecycle (persist, probe, append, compact, GC) over a file: URI root") {
    import graft.ops.Dedup
    val indexDir = uriDir("lsh-uri")
    val seeded = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val textA = "one two three four five six seven eight nine ten eleven twelve"
    Dedup.persistLshIndex(
      Seq(1L -> seeded, 2L -> textA).toDF("doc_id", "text"), indexDir)

    // the manifest committed through the Hadoop API is a real local
    // file (the URI resolved to LocalFileSystem, not a literal path)
    val raw = indexDir.stripPrefix("file:")
    assert(new java.io.File(s"$raw/m0").isFile, "manifest not committed via file: URI")

    // probe: cell listing + existence checks + basePath-anchored read
    // all through the URI root
    val probe = Seq(11L -> seeded.replace(" mu", " nu")).toDF("doc_id", "text")
    def pairs(): Seq[(Long, Long)] =
      Dedup.nearDupCheck(spark, indexDir, probe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs() === Seq((11L, 1L)))

    // append a delta through the URI, probe sees it, replay overwrites
    Dedup.appendToLshIndex(spark, indexDir,
      Seq(4L -> seeded.replace(" mu", " xi")).toDF("doc_id", "text"), batchId = 3L)
    Dedup.appendToLshIndex(spark, indexDir,
      Seq(4L -> seeded.replace(" mu", " xi")).toDF("doc_id", "text"), batchId = 3L)
    assert(pairs() === Seq((11L, 1L), (11L, 4L)))

    // compact twice: generation fold + keep-two GC, all URI-rooted;
    // serving is unchanged and the absorbed delta retires
    Dedup.compactLshIndex(spark, indexDir)
    assert(pairs() === Seq((11L, 1L), (11L, 4L)))
    Dedup.compactLshIndex(spark, indexDir)
    assert(IndexFs.listNames(spark, s"$indexDir/delta", "b\\d+").isEmpty)
    assert(pairs() === Seq((11L, 1L), (11L, 4L)))
  }

  test("IVF index lifecycle (persist, serve, append, compact, GC) over a file: URI root") {
    import graft.ops.Similarity
    val indexDir = uriDir("ivf-uri")
    Similarity.persistIvfIndex(
      Similarity.buildIvfIndex(spark, sf("sf0.001")), indexDir)

    val spike = Seq(8f, 8f, 8f, 8f) ++ Seq.fill(60)(0f)
    def hits(): Seq[(Long, Double)] =
      Similarity.ivfProbeVectorServed(spark, indexDir, spike)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // baseline serve off the URI root returns a full top-k
    assert(hits().size === 10)

    // delta append through the URI becomes servable, replay-idempotent
    Similarity.appendToPersistedIvfIndex(spark, indexDir,
      Seq((1000000L, spike)).toDF("vec_id", "embedding"), batchId = 1L)
    val afterAppend = hits()
    assert(afterAppend.head === ((1000000L, 1.0)), s"append not served: ${afterAppend.take(2)}")
    Similarity.appendToPersistedIvfIndex(spark, indexDir,
      Seq((1000000L, spike)).toDF("vec_id", "embedding"), batchId = 1L)
    assert(hits() === afterAppend)

    // compaction folds the delta into a new generation behind the
    // manifest; a second pass GCs the absorbed delta — all URI-rooted
    Similarity.compactIvfIndex(spark, indexDir)
    assert(hits() === afterAppend)
    Similarity.compactIvfIndex(spark, indexDir)
    assert(IndexFs.listNames(spark, s"$indexDir/delta", "b\\d+").isEmpty)
    assert(hits() === afterAppend)
  }

  test("LSH probe metadata I/O is O(1) in the delta backlog (one ledger read, no per-delta round-trips)") {
    import graft.ops.Dedup
    val indexDir = uriDir("lsh-o1")
    val seeded = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    Dedup.persistLshIndex(Seq(1L -> seeded).toDF("doc_id", "text"), indexDir)
    val probe = Seq(11L -> seeded.replace(" mu", " nu")).toDF("doc_id", "text")
    def probeSeamCalls(): Long = {
      val before = IndexFs.seamCalls.get()
      Dedup.nearDupCheck(spark, indexDir, probe).collect()
      IndexFs.seamCalls.get() - before
    }
    val atZeroDeltas = probeSeamCalls()
    // exact copies of the seeded text: band collision with the probe
    // is then CERTAIN (the x-suffix variants would leave collision to
    // the banding s-curve, which is not what this test measures)
    (1 to 8).foreach { b =>
      Dedup.appendToLshIndex(spark, indexDir,
        Seq((100L + b) -> seeded).toDF("doc_id", "text"),
        batchId = b.toLong)
    }
    val atEightDeltas = probeSeamCalls()
    assert(atEightDeltas === atZeroDeltas,
      s"probe seam calls grew with the delta backlog: $atZeroDeltas → $atEightDeltas")
    // the ledger-pruned candidate read still flags every near-copy
    val hits = Dedup.nearDupCheck(spark, indexDir, probe)
      .collect().map(_.getLong(1)).toSet
    assert(hits.contains(1L))
    (1 to 8).foreach(b => assert(hits.contains(100L + b), s"delta b$b not probed"))
  }

  test("two-stage LSH probe: same seam calls as the one-pass form, identical pairs") {
    import graft.ops.Dedup
    val indexDir = uriDir("lsh-2s")
    val seeded = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    Dedup.persistLshIndex(Seq(1L -> seeded).toDF("doc_id", "text"), indexDir)
    // a small delta backlog so the shared-resolve claim covers the
    // ledger path too, not just the base-cell existence checks
    (1 to 4).foreach { b =>
      Dedup.appendToLshIndex(spark, indexDir,
        Seq((100L + b) -> seeded).toDF("doc_id", "text"), batchId = b.toLong)
    }
    val probe = Seq(11L -> seeded.replace(" mu", " nu")).toDF("doc_id", "text")
    def run(twoStage: Boolean): (Long, Seq[(Long, Long)]) = {
      val before = IndexFs.seamCalls.get()
      val pairs = Dedup.nearDupCheck(spark, indexDir, probe, twoStage = twoStage)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      (IndexFs.seamCalls.get() - before, pairs)
    }
    val (onePassCalls, onePassPairs) = run(twoStage = false)
    val (twoStageCalls, twoStagePairs) = run(twoStage = true)
    // the screen stage MUST reuse the one metadata resolve — a second
    // lshCellPaths pass would double the probe's s3a round-trips
    assert(twoStageCalls === onePassCalls,
      s"two-stage probe pays extra seam calls: $onePassCalls → $twoStageCalls")
    assert(twoStagePairs === onePassPairs,
      "two-stage probe diverged from the one-pass pairs")
    assert(onePassPairs.map(_._2).toSet === (Set(1L) ++ (1 to 4).map(100L + _)))
  }

  test("IVF probe metadata I/O is O(1) in the delta backlog (one ledger read, no per-delta round-trips)") {
    import graft.ops.Similarity
    val indexDir = uriDir("ivf-o1")
    Similarity.persistIvfIndex(
      Similarity.buildIvfIndex(spark, sf("sf0.001")), indexDir)
    val spike = Seq(8f, 8f, 8f, 8f) ++ Seq.fill(60)(0f)
    def probeSeamCalls(): Long = {
      val before = IndexFs.seamCalls.get()
      Similarity.ivfProbeVectorServed(spark, indexDir, spike).collect()
      IndexFs.seamCalls.get() - before
    }
    val atZeroDeltas = probeSeamCalls()
    // grow an 8-delta backlog — the regime where per-delta sidecar
    // round-trips used to make every probe pay O(deltas) LIST/GETs
    (1 to 8).foreach { b =>
      Similarity.appendToPersistedIvfIndex(spark, indexDir,
        Seq((1000000L + b, spike)).toDF("vec_id", "embedding"), batchId = b.toLong)
    }
    val atEightDeltas = probeSeamCalls()
    assert(atEightDeltas === atZeroDeltas,
      s"probe seam calls grew with the delta backlog: $atZeroDeltas → $atEightDeltas")
    // the ledger-pruned serving view still sees every appended vector
    val served = Similarity.ivfProbeVectorServed(spark, indexDir, spike)
      .collect().map(_.getLong(0)).toSet
    (1 to 8).foreach(b => assert(served.contains(1000000L + b), s"delta b$b not served"))
  }

  test("GenLifecycle.versionIds: the _SUCCESS gate hides torn version dirs from serving, the ungated GC sweep sees them") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("verids").toString
    // v1 committed; v2 torn (its overwrite started — the dir exists —
    // but never landed a _SUCCESS); v10 committed (lexicographic vs
    // numeric id ordering trap: 10 > 2 numerically, "10" < "2" as a
    // string); m3 a rename-committed manifest FILE (no marker by
    // design); a non-matching sibling is never listed
    Files.createDirectories(Paths.get(s"$dir/v1"))
    Files.write(Paths.get(s"$dir/v1/_SUCCESS"), Array.emptyByteArray)
    Files.createDirectories(Paths.get(s"$dir/v2"))
    Files.createDirectories(Paths.get(s"$dir/v10"))
    Files.write(Paths.get(s"$dir/v10/_SUCCESS"), Array.emptyByteArray)
    Files.write(Paths.get(s"$dir/m3"), "x\n".getBytes)
    Files.createDirectories(Paths.get(s"$dir/vtmp"))
    assert(GenLifecycle.versionIds(spark, dir, "v").sorted === Seq(1L, 10L),
      "a torn version dir leaked through the gate")
    assert(GenLifecycle.versionIds(spark, dir, "v", gated = false).sorted ===
      Seq(1L, 2L, 10L), "the GC sweep must see torn dirs to remove them")
    assert(GenLifecycle.versionIds(spark, dir, "v", below = 10L).sorted ===
      Seq(1L), "`below` is exclusive — the replay contract")
    assert(GenLifecycle.versionIds(spark, dir, "m", gated = false) === Seq(3L))
    // the two-version GC keep rule over the same fixture: current = 10,
    // base = newest committed below it (1); the torn 2 goes
    GenLifecycle.gcVersions(spark, dir, "v", batchId = 10L, keepBase = true)
    assert(GenLifecycle.versionIds(spark, dir, "v", gated = false).sorted ===
      Seq(1L, 10L), "GC kept the wrong set")
  }

  test("withCellListing: two interleaved probes on one session leave the listing threshold unset") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.unset(key)
    val default = spark.conf.get(key)
    val aInBody, bInBody, aDone = new CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def thread(body: => Unit): Thread = new Thread(() =>
      try body catch { case t: Throwable => errors.add(t); () })
    // the interleaving that leaks the raised value without a lock: B
    // enters while A is inside, A restores first (unset), B restores
    // last (the raised value it saw as "previous"). Every wait is
    // bounded, so under the lock (B blocked until A leaves) A's wait
    // times out and the two bodies run in turn instead of deadlocking.
    val a = thread {
      IndexFs.withCellListing(spark) {
        aInBody.countDown(); bInBody.await(2, TimeUnit.SECONDS)
      }
      aDone.countDown()
    }
    val b = thread {
      assert(aInBody.await(30, TimeUnit.SECONDS), "A never entered its body")
      IndexFs.withCellListing(spark) {
        bInBody.countDown(); aDone.await(30, TimeUnit.SECONDS)
      }
    }
    a.start(); b.start()
    a.join(60000L); b.join(60000L)
    assert(!a.isAlive && !b.isAlive, "a probe thread is still running")
    assert(errors.isEmpty, errors)
    assert(spark.conf.get(key) === default,
      "the raised listing threshold leaked into the session")
    assert(!spark.conf.getAll.contains(key), "the threshold is left set after both probes")
  }

  test("a committed layout missing its metadata file fails loudly, naming the file") {
    import graft.ops.{Dedup, Similarity}
    import graft.streaming.{ExactlyOnceSink, FileTopics}
    def failsNaming(file: String)(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains(file), e.getMessage)
    }
    // a topic whose partition data outlived its offset ledger
    val broker = uriDir("loud-topic")
    val rows = Seq(("t", "k1", "v1"), ("t", "k2", "v2")).toDF("topic", "key", "value")
    FileTopics.produce(rows, broker)
    IndexFs.delete(spark, s"$broker/t/_offsets.json")
    failsNaming("t/_offsets.json")(FileTopics.produce(rows, broker))

    // a sink with a committed batch but no recorded schema
    val out = uriDir("loud-sink") + "/out"
    ExactlyOnceSink.commit(Seq((1L, "a")).toDF("id", "v"), out, 0L)
    IndexFs.delete(spark, s"$out/_schema.ddl")
    failsNaming("out/_schema.ddl")(ExactlyOnceSink.readCommitted(spark, out))

    // an LSH index without its persisted prefix length
    val lshDir = uriDir("loud-lsh")
    val docs = Seq(1L -> "alpha beta gamma delta epsilon zeta eta theta")
      .toDF("doc_id", "text")
    Dedup.persistLshIndex(docs, lshDir)
    IndexFs.delete(spark, s"$lshDir/lsh_meta")
    failsNaming("lsh_meta")(Dedup.nearDupCheck(spark, lshDir, docs).collect())

    // an IVF index without its live sketch cells, then without its ledger
    val ivfDir = uriDir("loud-ivf")
    def oneHot(d: Int): Seq[Float] = Seq.tabulate(8)(i => if (i == d) 1f else 0f)
    Similarity.persistIvfIndex(Similarity.buildIvfIndexFrom(
      (0 until 8).map(i => (i.toLong, oneHot(i % 2), i % 2))
        .toDF("vec_id", "embedding", "label")), ivfDir)
    IndexFs.delete(spark, s"$ivfDir/sketch_g0")
    failsNaming("sketch_g0")(
      Similarity.ivfProbeVectorRerankedServed(spark, ivfDir, oneHot(0)).collect())
    IndexFs.delete(spark, s"$ivfDir/delta/ledger")
    failsNaming("delta/ledger")(
      Similarity.ivfProbeVectorServed(spark, ivfDir, oneHot(0)).collect())
  }
}
