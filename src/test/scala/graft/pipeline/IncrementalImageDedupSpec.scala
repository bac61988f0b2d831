package graft.pipeline

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.images.SyntheticImages

/** Incremental (delta-vs-corpus) dedup must reproduce the full re-run's
  * clustering on the planted synthetic corpus: the generator plants dups at
  * id%20 ∈ {8,9} (→ corpus half) and {18,19} (→ delta half) of each base
  * id%20 == 0, so recall requires BOTH delta×corpus cross pairs and the
  * delta-internal pair (18,19). */
class IncrementalImageDedupSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  private val n = 2000L
  private lazy val all = SyntheticImages.generate(spark, n).toDF().localCheckpoint()
  private val idNum = expr("cast(substring(image_id, 5) as bigint)")
  private lazy val corpus = all.where(idNum % 20 < 10).localCheckpoint()
  private lazy val delta = all.where(idNum % 20 >= 10).localCheckpoint()

  "IncrementalImageDedup" should "equal a full re-run over corpus ∪ delta" in {
    val fullClusters = ImageDedupPipeline.runDirect(spark, all)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val corpusClusters = ImageDedupPipeline.runDirect(spark, corpus)
    val inc = IncrementalImageDedup.runDirect(spark, corpus, corpusClusters, delta)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    inc.keySet shouldBe fullClusters.keySet
    // identical partitions AND identical min-id labels
    inc shouldBe fullClusters
  }

  it should "serve successive imports from one durable store without cross-import pollution" in {
    val dir = java.nio.file.Files.createTempDirectory("inc_multi_import").toString
    val ckpt = new StageCheckpoint(spark, dir)
    val corpusClusters = ImageDedupPipeline.runDirect(spark, corpus).localCheckpoint()
    val delta1 = all.where(idNum % 20 === 18).localCheckpoint()
    val delta2 = all.where(idNum % 20 === 19).localCheckpoint()

    val out1 = IncrementalImageDedup.run(spark, corpus, corpusClusters, delta1, ckpt, "d1")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // corpus-side stages are now committed — the second import must reuse
    // them (isDone) while computing its own delta stages under a fresh
    // namespace instead of resuming d1's
    ckpt.isDone("inc_corpus_annotated") shouldBe true
    ckpt.isDone("d2_inc_delta_annotated") shouldBe false
    val out2 = IncrementalImageDedup.run(spark, corpus, corpusClusters, delta2,
        new StageCheckpoint(spark, dir), "d2")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    // each import assigns exactly corpus ∪ its own delta
    out1.keySet shouldBe (corpus.select("image_id").collect().map(_.getString(0)).toSet
      ++ delta1.select("image_id").collect().map(_.getString(0)))
    out2.keySet shouldBe (corpus.select("image_id").collect().map(_.getString(0)).toSet
      ++ delta2.select("image_id").collect().map(_.getString(0)))
    // planted truth: id%20==18 (d1) and ==19 (d2) are dups of their base
    val base18 = SyntheticImages.imageId(18L - 18L)
    out1(SyntheticImages.imageId(18L)) shouldBe out1(base18)
    out2(SyntheticImages.imageId(19L)) shouldBe out2(base18)
  }

  it should "resume a re-run import from its committed stages" in {
    val dir = java.nio.file.Files.createTempDirectory("inc_resume").toString
    val corpusClusters = ImageDedupPipeline.runDirect(spark, corpus).localCheckpoint()
    val deltaR = all.where(idNum % 20 === 18).localCheckpoint()
    val first = IncrementalImageDedup.run(spark, corpus, corpusClusters, deltaR,
        new StageCheckpoint(spark, dir), "r1")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val resumedStore = new StageCheckpoint(spark, dir)
    resumedStore.isDone("r1_inc_clusters") shouldBe true
    resumedStore.isDone("r1_inc_verified_edges") shouldBe true
    // a re-run of the same import (crash-recovery shape) serves every stage
    // from its snapshot and reproduces the assignment exactly
    val again = IncrementalImageDedup.run(spark, corpus, corpusClusters, deltaR,
        resumedStore, "r1")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    again shouldBe first
  }

  it should "reuse the initial clustering run's corpus snapshots for the first import" in {
    val dir = java.nio.file.Files.createTempDirectory("inc_shared_store").toString
    val store = new StageCheckpoint(spark, dir)
    val corpusClusters = ImageDedupPipeline.run(spark, corpus, store).localCheckpoint()
    corpusClusters.count()
    store.isDone("s1_annotated") shouldBe true
    val deltaP = all.where(idNum % 20 === 19).localCheckpoint()
    val out = IncrementalImageDedup.run(spark, corpus, corpusClusters, deltaP,
        new StageCheckpoint(spark, dir), "p1")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // the import served the pipeline's own snapshots — it never wrote the
    // inc_corpus_* fallback stages
    val after = new StageCheckpoint(spark, dir)
    after.isDone("inc_corpus_annotated") shouldBe false
    after.isDone("inc_corpus_shingles") shouldBe false
    out(SyntheticImages.imageId(19L)) shouldBe out(SyntheticImages.imageId(0L))
  }

  it should "absorb an accepted delta so two sequential imports equal one full re-run" in {
    val dir = java.nio.file.Files.createTempDirectory("inc_absorb").toString
    val d1 = all.where(idNum % 20 === 18).localCheckpoint()
    val d2 = all.where(idNum % 20 === 19).localCheckpoint()
    val c0 = ImageDedupPipeline.runDirect(spark, corpus).localCheckpoint()

    val s1 = new StageCheckpoint(spark, dir)
    val out1 = IncrementalImageDedup.run(spark, corpus, c0, d1, s1, "d1").localCheckpoint()
    out1.count()
    val bandsGen0 = IncrementalImageDedup.corpusBands(s1).count()
    IncrementalImageDedup.absorb(spark, s1, "d1") shouldBe 1
    val s2 = new StageCheckpoint(spark, dir)
    IncrementalImageDedup.latestGen(s2) shouldBe 1
    // the corpus-band view streaming/batch share now resolves generation 1
    // and includes the absorbed delta's bands
    IncrementalImageDedup.corpusBands(s2).count() should be > bandsGen0

    // import 2 runs against the GROWN corpus (caller appended d1) and the
    // absorbed artifacts — and must equal one full re-run over everything
    val corpus2 = corpus.unionByName(d1).localCheckpoint()
    val out2 = IncrementalImageDedup.run(spark, corpus2, out1, d2, s2, "d2")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val full = ImageDedupPipeline.runDirect(spark, corpus2.unionByName(d2))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    out2 shouldBe full
    // absorb staged ONLY the delta's artifact rows (delta-sized IO) — no
    // rewritten full corpus table at generation 1
    s2.isDone("inc_corpus_annotated_d1") shouldBe true
    s2.isDone("inc_corpus_bands_d1") shouldBe true
    s2.isDone("inc_corpus_annotated_g1") shouldBe false
    s2.isDone("inc_corpus_bands_g1") shouldBe false
  }

  it should "treat a re-run of a completed absorb as a no-op (marker records the import)" in {
    val dir = java.nio.file.Files.createTempDirectory("inc_noop").toString
    val d1 = all.where(idNum % 20 === 18).localCheckpoint()
    val c0 = ImageDedupPipeline.runDirect(spark, corpus).localCheckpoint()
    val st = new StageCheckpoint(spark, dir)
    IncrementalImageDedup.run(spark, corpus, c0, d1, st, "n1").count()
    IncrementalImageDedup.absorb(spark, st, "n1") shouldBe 1
    val bands1 = IncrementalImageDedup.corpusBands(new StageCheckpoint(spark, dir)).count()
    // the retry must NOT create generation 2 with the same delta
    IncrementalImageDedup.absorb(spark, new StageCheckpoint(spark, dir), "n1") shouldBe 1
    val st2 = new StageCheckpoint(spark, dir)
    IncrementalImageDedup.latestGen(st2) shouldBe 1
    IncrementalImageDedup.corpusBands(st2).count() shouldBe bands1
  }

  it should "complete a crashed absorb idempotently on re-run (marker commits last)" in {
    val dir = java.nio.file.Files.createTempDirectory("inc_crash").toString
    val d1 = all.where(idNum % 20 === 18).localCheckpoint()
    val c0 = ImageDedupPipeline.runDirect(spark, corpus).localCheckpoint()
    val st = new StageCheckpoint(spark, dir)
    IncrementalImageDedup.run(spark, corpus, c0, d1, st, "c1").count()
    IncrementalImageDedup.absorb(spark, st, "c1") shouldBe 1
    val bands1 = IncrementalImageDedup.corpusBands(new StageCheckpoint(spark, dir)).count()
    // simulate the crash window: every delta stage committed, marker not
    val st2 = new StageCheckpoint(spark, dir)
    st2.dropStage("inc_corpus_gen_g1")
    IncrementalImageDedup.latestGen(st2) shouldBe 0 // bump is atomic-at-the-probe
    // re-run completes the generation without duplicating any delta rows
    IncrementalImageDedup.absorb(spark, st2, "c1") shouldBe 1
    val st3 = new StageCheckpoint(spark, dir)
    IncrementalImageDedup.latestGen(st3) shouldBe 1
    IncrementalImageDedup.corpusBands(st3).count() shouldBe bands1
  }

  it should "refuse to absorb a different import into someone else's partial generation" in {
    val dir = java.nio.file.Files.createTempDirectory("inc_partial").toString
    val d1 = all.where(idNum % 20 === 18).localCheckpoint()
    val d2 = all.where(idNum % 20 === 19).localCheckpoint()
    val c0 = ImageDedupPipeline.runDirect(spark, corpus).localCheckpoint()
    val st = new StageCheckpoint(spark, dir)
    IncrementalImageDedup.run(spark, corpus, c0, d1, st, "x1").count()
    IncrementalImageDedup.run(spark, corpus, c0, d2, st, "x2").count()
    IncrementalImageDedup.absorb(spark, st, "x1") shouldBe 1
    // simulate import x9's absorb crashing right after its intent commit;
    // absorbing x2 must then refuse generation 2 instead of interleaving
    // its stages with x9's partial ones
    import spark.implicits._
    val st2 = new StageCheckpoint(spark, dir)
    st2.stage("inc_corpus_src_d2")(Seq("x9").toDF("import_id")).count()
    val ex = intercept[IllegalArgumentException] {
      IncrementalImageDedup.absorb(spark, new StageCheckpoint(spark, dir), "x2")
    }
    ex.getMessage should include("partial absorb of import 'x9'")
  }

  it should "equal a full re-run for RANDOM corpus/delta splits (property)" in {
    // the planted %20 splits always put exact-dup classes wholly on one
    // side; random splits exercise classes straddling the boundary,
    // captions whose class rep lands in the delta, singleton deltas, etc.
    val small = SyntheticImages.generate(spark, 800L).toDF().localCheckpoint()
    (1 to 2).foreach { trial =>
      val inDelta = pmod(xxhash64(col("image_id"), lit(trial)), lit(5L)) === 0L // ~20%
      val corpusT = small.where(!inDelta).localCheckpoint()
      val deltaT = small.where(inDelta).localCheckpoint()
      val c0 = ImageDedupPipeline.runDirect(spark, corpusT)
      val inc = IncrementalImageDedup.runDirect(spark, corpusT, c0, deltaT)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val full = ImageDedupPipeline.runDirect(spark, small)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      withClue(s"trial $trial") { inc shouldBe full }
    }
  }

  it should "compact then prune superseded generations without breaking the current view" in {
    val dir = java.nio.file.Files.createTempDirectory("inc_prune").toString
    val d1 = all.where(idNum % 20 === 18).localCheckpoint()
    val d2 = all.where(idNum % 20 === 19).localCheckpoint()
    val c0 = ImageDedupPipeline.runDirect(spark, corpus).localCheckpoint()
    val st = new StageCheckpoint(spark, dir)
    val out1 = IncrementalImageDedup.run(spark, corpus, c0, d1, st, "p1").localCheckpoint()
    out1.count()
    IncrementalImageDedup.absorb(spark, st, "p1") shouldBe 1

    // before compaction the delta stages are LIVE — prune must not drop
    // them (only the superseded generation-0 fingerprint is reclaimable)
    val st1 = new StageCheckpoint(spark, dir)
    val dropped0 = IncrementalImageDedup.pruneGenerations(st1)
    dropped0 should not contain "inc_corpus_bands"
    dropped0 should not contain "inc_corpus_bands_d1"
    val preCompact = IncrementalImageDedup.corpusBands(new StageCheckpoint(spark, dir)).count()

    IncrementalImageDedup.compactGenerations(new StageCheckpoint(spark, dir)) shouldBe 1
    val st2 = new StageCheckpoint(spark, dir)
    val dropped = IncrementalImageDedup.pruneGenerations(st2)
    dropped should contain("inc_corpus_bands")    // generation-0 artifacts freed
    dropped should contain("inc_corpus_bands_d1") // folded delta stages freed
    // the generation resolution and the current corpus view both survive
    val st3 = new StageCheckpoint(spark, dir)
    IncrementalImageDedup.latestGen(st3) shouldBe 1
    st3.isDone("inc_corpus_bands") shouldBe false
    st3.isDone("inc_corpus_bands_g1") shouldBe true
    IncrementalImageDedup.corpusBands(st3).count() shouldBe preCompact
    // and the NEXT import runs correctly against the pruned store
    val corpus2 = corpus.unionByName(d1).localCheckpoint()
    val out2 = IncrementalImageDedup.run(spark, corpus2, out1, d2, st3, "p2")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val full = ImageDedupPipeline.runDirect(spark, corpus2.unionByName(d2))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    out2 shouldBe full
  }

  it should "chain absorbs across multiple generations (three-day ingest loop)" in {
    val dir = java.nio.file.Files.createTempDirectory("inc_chain").toString
    val d1 = all.where(idNum % 20 === 18).localCheckpoint()
    val d2 = all.where(idNum % 20 === 19).localCheckpoint()
    // day 3 = genuinely NEW rows beyond the original id space (their
    // planted dups are delta-internal)
    val d3 = SyntheticImages.generate(spark, n + 100L).toDF()
      .where(idNum >= n).localCheckpoint()
    val c0 = ImageDedupPipeline.runDirect(spark, corpus).localCheckpoint()

    val st = new StageCheckpoint(spark, dir)
    val out1 = IncrementalImageDedup.run(spark, corpus, c0, d1, st, "e1").localCheckpoint()
    out1.count()
    IncrementalImageDedup.absorb(spark, st, "e1") shouldBe 1
    val corpus2 = corpus.unionByName(d1).localCheckpoint()
    val out2 = IncrementalImageDedup.run(spark, corpus2, out1, d2,
      new StageCheckpoint(spark, dir), "e2").localCheckpoint()
    out2.count()
    IncrementalImageDedup.absorb(spark, new StageCheckpoint(spark, dir), "e2") shouldBe 2
    val st3 = new StageCheckpoint(spark, dir)
    IncrementalImageDedup.latestGen(st3) shouldBe 2
    val corpus3 = corpus2.unionByName(d2).localCheckpoint()
    val out3 = IncrementalImageDedup.run(spark, corpus3, out2, d3, st3, "e3")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    val full = ImageDedupPipeline.runDirect(spark, corpus3.unionByName(d3))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    out3 shouldBe full
  }

  it should "fail loudly when the passed corpus does not match the staged fingerprint" in {
    val dir = java.nio.file.Files.createTempDirectory("inc_fprint").toString
    val d1 = all.where(idNum % 20 === 18).localCheckpoint()
    val d2 = all.where(idNum % 20 === 19).localCheckpoint()
    val c0 = ImageDedupPipeline.runDirect(spark, corpus).localCheckpoint()
    val out1 = IncrementalImageDedup.run(spark, corpus, c0, d1,
      new StageCheckpoint(spark, dir), "d1").localCheckpoint()
    out1.count()
    // caller grows the corpus but FORGETS to absorb — the staged artifacts
    // are stale and the import must refuse instead of silently serving them
    val grown = corpus.unionByName(d1)
    val ex = intercept[IllegalArgumentException] {
      IncrementalImageDedup.run(spark, grown, out1, d2,
        new StageCheckpoint(spark, dir), "d2")
    }
    ex.getMessage should include("fingerprint mismatch")
  }

  it should "import into an empty corpus exactly as a full run over the delta alone" in {
    // with nothing to pair against, only the delta×delta leg produces
    // candidates — it must be the full run's own candidate stages
    val noClusters = corpus.select(col("image_id"), col("image_id").as("cluster_id")).limit(0)
    val inc = IncrementalImageDedup.runDirect(spark, corpus.limit(0), noClusters, delta)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val full = ImageDedupPipeline.runDirect(spark, delta)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    inc shouldBe full
  }

  it should "achieve recall and precision 1.0 against the planted truth" in {
    val corpusClusters = ImageDedupPipeline.runDirect(spark, corpus)
    val inc = IncrementalImageDedup.runDirect(spark, corpus, corpusClusters, delta)
      .localCheckpoint()
    val truth = SyntheticImages.truth(spark, n).toDF()
    val (recall, truePairs, _) = graft.Main.pairRecall(inc, truth)
    val (precision, _, _) = graft.Main.pairPrecision(inc, truth)
    truePairs should be > 0L
    recall shouldBe 1.0
    precision shouldBe 1.0
  }

  it should "leave runDirect's result a plan, so none of its blocks outlive the call" in releasing {
    val out = IncrementalImageDedup.runDirect(spark, corpus,
      ImageDedupPipeline.runDirect(spark, corpus), delta)
    out.queryExecution.logical should not be a[org.apache.spark.sql.execution.LogicalRDD]
  }
}
