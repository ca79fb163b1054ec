package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import java.nio.file.Files

/** End-to-end pipeline tests on a deterministic synthetic corpus:
  * extraction byte-identity, mention P/R vs a single-threaded oracle run of
  * the same functions, canonicalization ground truth, triple emission
  * through the embedded Turtle round-trip, determinism, and kill/resume.
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = Pipeline.sparkSession("local[4]", 8, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val NPages = 200L
  private val NEntities = 120

  test("extraction reproduces the oracle text byte-identically for every url") {
    import spark.implicits._
    val pages = PageGen.pages(spark, NPages, NEntities)
    val violations = Extract.verifyAgainstOracle(
      pages.map(p => p.copy(text = "IGNORED")).map(p => p.copy(text = Extract.extractText(p.html)))
        .map(identity))
    assert(violations == 0)
    // direct check too: extract(html) == oracle text column
    val bad = pages.filter(p => Extract.extractText(p.html) != p.text).count()
    assert(bad == 0)
  }

  test("extraction: prefix-sharing tag is not a block boundary and does not stop the scan") {
    // '<navy>' must not match the 'nav' block tag — and crucially must not
    // abort the scan, or the REAL <nav> after it would survive
    val html = "<p>keep1</p><navy>keep2</navy><nav>menu</nav><p>keep3</p>" +
      "<script>var x;</script><p>keep4</p>"
    val got = Extract.extractText(html)
    assert(got.contains("keep1") && got.contains("keep2") &&
      got.contains("keep3") && got.contains("keep4"), got)
    assert(!got.contains("menu") && !got.contains("var x"), got)
  }

  test("emit survives hostile URLs: IRIREF-forbidden chars percent-encode, no injection") {
    val hostile = "http://x.example/a b/>. <http://evil.example/s> <http://evil.example/p"
    val ttl = TripleEmit.turtleForPage(hostile, 0L, "en", Seq.empty)
    graft.turtle.Turtle.parseToTriples(ttl) match {
      case Right(ts) =>
        // every triple keeps the ONE (percent-encoded) page IRI as its
        // subject — injection would surface as a separate evil subject
        assert(ts.nonEmpty && ts.map(_.subj.render).distinct.size == 1)
        assert(ts.head.subj.render.contains("%20") && ts.head.subj.render.contains("%3E"))
        assert(!ts.exists(_.subj.render == "<http://evil.example/s>"), ts.map(_.subj.render))
      case Left(e) => fail(s"hostile URL failed the emit round-trip: $e")
    }
  }

  test("snapshots gate on job config: a different page count recomputes instead of serving stale data") {
    val out = Files.createTempDirectory("graft_snapcfg_").toString
    try {
      val s1 = Pipeline.run(spark, 60L, NEntities, out)
      val s2 = Pipeline.run(spark, 120L, NEntities, out) // same dir, different job
      assert(s2.stageRows("pages") == 120L,
        s"second run served the first run's snapshots: ${s2.stageRows}")
      assert(s1.stageRows("pages") == 60L)
      // and an identical re-run DOES reuse (resume still works)
      val s3 = Pipeline.run(spark, 120L, NEntities, out)
      assert(s3.stageRows("pages") == 120L)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("connectedComponentsDelta: merge, split, new nodes — equals fresh CC; untouched components never enter the loop") {
    import spark.implicits._
    // v1: three components {1,2,3}, {10,11}, {20,21,22}
    val v1 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("src", "dst")
    // diff: SPLIT {1,2,3} (del 2-3), MERGE {10,11} with a NEW node 12,
    // and bridge {10,11,12} into the split-off {3} — {20,21,22} untouched
    val diff = Seq(("del", 2L, 3L), ("add", 11L, 12L), ("add", 12L, 3L))
      .toDF("op", "src", "dst")
    val v2 = Seq((1L, 2L), (10L, 11L), (11L, 12L), (12L, 3L), (20L, 21L), (21L, 22L))
      .toDF("src", "dst")
    val oldLabels = Canonical.connectedComponents(v1)
    val inc = Canonical.connectedComponentsDelta(oldLabels, v2, diff)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val fresh = Canonical.connectedComponents(v2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(inc == fresh, s"incremental $inc != fresh $fresh")
    assert(inc == Set(1L -> 1L, 2L -> 1L, // split remainder
      3L -> 3L, 10L -> 3L, 11L -> 3L, 12L -> 3L, // merged across the bridge
      20L -> 20L, 21L -> 20L, 22L -> 20L)) // carried forward untouched
    // the work-∝-diff invariant: the iterative loop's induced subgraph
    // excludes every edge of the untouched component
    val (affected, subEdges) = Canonical.affectedSubgraph(oldLabels, v2, diff)
    assert(affected.collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 10L, 11L, 12L))
    assert(subEdges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (10L, 11L), (11L, 12L), (12L, 3L)))
  }

  test("CheckpointPolicy.Reliable: CC equals Local, files on disk, survives total block loss") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ckpt_").toString
    try {
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (3L, 1L))
        .toDF("src", "dst")
      val local = Canonical.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      val reliable = Canonical
        .connectedComponents(edges, checkpoint = CheckpointPolicy.Reliable(dir))
      val reliableRows = reliable.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(reliableRows == local, s"reliable $reliableRows != local $local")
      // every round's state really is files under the checkpoint dir
      val files = org.apache.commons.io.FileUtils
        .listFiles(new java.io.File(dir), null, true)
      assert(!files.isEmpty, s"no checkpoint files written under $dir")

      // durability: wipe EVERY cached block (the local-mode stand-in for
      // losing all executors mid-job). The reliable result recomputes from
      // the DFS files; the locally-checkpointed twin has truncated lineage
      // AND lost blocks, so it can only fail — the exact 100-TB failure
      // mode Reliable exists to close.
      val localDf = CheckpointPolicy.Local.truncate(Seq(1L, 2L, 3L).toDF("x"))
      val reliableDf = CheckpointPolicy.Reliable(dir).truncate(Seq(4L, 5L, 6L, 7L).toDF("x"))
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      assert(reliableDf.count() == 4L)
      assert(reliable.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet == local)
      intercept[Exception] { localDf.count() }
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("full pipeline under Reliable checkpointing produces the identical graph") {
    val outL = Files.createTempDirectory("graft_ckpt_pl_l").toString
    val outR = Files.createTempDirectory("graft_ckpt_pl_r").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_pl_dfs").toString
    try {
      val sL = Pipeline.run(spark, 100L, NEntities, outL)
      val sR = Pipeline.run(spark, 100L, NEntities, outR,
        checkpoint = CheckpointPolicy.Reliable(ckpt))
      assert(sL.graphRows == sR.graphRows)
      val gL = Materialize.read(spark, s"$outL/graph").select("subj", "pred", "obj")
        .collect().map(_.toString).sorted
      val gR = Materialize.read(spark, s"$outR/graph").select("subj", "pred", "obj")
        .collect().map(_.toString).sorted
      assert(gL.sameElements(gR), "reliable-checkpoint run differs from local-checkpoint run")
    } finally Seq(outL, outR, ckpt).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("mention detection matches the single-threaded oracle exactly (P/R = 1.0)") {
    import spark.implicits._
    val pages = PageGen.pages(spark, NPages, NEntities)
    val aliasSurfaces = PageGen.entityDictionary(NEntities).map(_.alias)
    val got = Mentions.detect(pages.toDF(), aliasSurfaces).collect().toSet

    // oracle: same pure functions, sequential on the driver
    val ac = AhoCorasick.build(aliasSurfaces.distinct.sorted)
    val expected = (0L until NPages).flatMap { n =>
      Mentions.scanPage(ac, PageGen.pageUrl(n), PageGen.pageText(n, NEntities))
    }.toSet
    assert(got == expected)
    assert(expected.nonEmpty)
    // every page plants ≥1 mention — recall sanity
    assert(expected.map(_.url).size == NPages)
  }

  test("LSH blocking recalls every exact alias match") {
    import spark.implicits._
    val pages = PageGen.pages(spark, NPages, NEntities)
    val dict = PageGen.dictionary(spark, NEntities)
    val mentions = Mentions.detect(pages.toDF(), PageGen.entityDictionary(NEntities).map(_.alias))
    val cands = Linking.block(mentions.toDF(), dict).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    // expected: for each mention whose surface is exactly an alias of k,
    // candidate (mention, entity k) must be present
    val aliasToEntities = PageGen.entityDictionary(NEntities)
      .groupBy(_.alias).view.mapValues(_.map(_.entity_iri).toSet).toMap
    val ms = mentions.collect()
    ms.foreach { m =>
      aliasToEntities.get(m.surface).foreach { ents =>
        ents.foreach(e => assert(cands.contains((m.mention_id, e)),
          s"missing candidate ($m, $e)"))
      }
    }
  }

  test("flooded alias universe: quarantine is AUDITED and exact recall stays 1.0") {
    import spark.implicits._
    // 1500 entities share ONE alias string → each band's bucket holds 1500
    // aliases > MaxAliasBandBucket → quarantined from the band join
    val flood = (0 until 1500).map(k =>
      EntityAlias(s"http://kg.example/flood/$k", "Flood Corp", 0.5))
    val normal = Seq(EntityAlias("http://kg.example/ok/1", "Acme Widgets", 1.0))
    val dict = (flood ++ normal).toDS()

    val audit = Linking.aliasHotBands(dict).collect()
    assert(audit.nonEmpty, "no audit rows for a flooded alias universe")
    assert(audit.forall(_.getLong(2) > Linking.MaxAliasBandBucket))

    // exact-match union: a mention with the flooded surface still gets
    // EVERY candidate; the unflooded alias is untouched
    val mentions = Seq((1L, "Flood Corp"), (2L, "Acme Widgets")).toDF("mention_id", "surface")
    val cands = Linking.block(mentions, dict).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(cands.filter(_._1 == 1L).map(_._2).toSet == flood.map(_.entity_iri).toSet)
    assert(cands.filter(_._1 == 2L).map(_._2).toSet == Set("http://kg.example/ok/1"))
  }

  test("linking resolves shared-alias mentions to the context-matching entity") {
    import spark.implicits._
    val pages = PageGen.pages(spark, NPages, NEntities)
    val dict = PageGen.dictionary(spark, NEntities)
    val mentions = Mentions.detect(pages.toDF(), PageGen.entityDictionary(NEntities).map(_.alias))
    val linked = Linking.link(mentions.toDF(), dict, Pipeline.profiles(spark, NEntities)).collect()

    // Every unambiguous full-name mention must link to its own entity.
    val nameToEntity = (0 until NEntities).map(k => PageGen.entityName(k) -> PageGen.entityIri(k)).toMap
    val byId = mentions.collect().map(m => m.mention_id -> m).toMap
    var checked = 0
    linked.foreach { c =>
      val m = byId(c.mention_id)
      nameToEntity.get(m.surface).foreach { expect =>
        assert(c.entity_iri == expect, s"mention ${m.surface} linked to ${c.entity_iri}")
        checked += 1
      }
    }
    assert(checked > 0)
  }

  test("link() releases its working caches — no storage accumulation across jobs") {
    import spark.implicits._
    val pages = PageGen.pages(spark, NPages, NEntities)
    val dict = PageGen.dictionary(spark, NEntities)
    val mentions = Mentions.detect(pages.toDF(), PageGen.entityDictionary(NEntities).map(_.alias))

    val before = spark.sparkContext.getPersistentRDDs.size
    // two back-to-back link jobs: the tf/idf working caches must be gone
    // after each returns; only the (small) localCheckpoint of each RESULT
    // may remain until its Dataset is garbage-collected
    Linking.link(mentions.toDF(), dict, Pipeline.profiles(spark, NEntities)).count()
    Linking.link(mentions.toDF(), dict, Pipeline.profiles(spark, NEntities)).count()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 2,
      s"storage grew by ${after - before} blocks across 2 link jobs (caches leaked)")
  }

  test("canonicalization: shared-alias clusters collapse to the min entity IRI") {
    val dict = PageGen.dictionary(spark, NEntities).toDF()
    val mapping = Canonical.canonicalMapping(dict).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

    // ground truth: entities k%10==0 sharing "Shared Alias g" form clusters
    val clusters = (0 until NEntities).filter(_ % 10 == 0)
      .groupBy(k => PageGen.sharedAlias(k).get)
    val multi = clusters.filter(_._2.size > 1)
    assert(multi.nonEmpty, "generator produced no multi-member clusters — test vacuous")
    multi.foreach { case (_, ks) =>
      val iris = ks.map(PageGen.entityIri)
      val expected = iris.min
      iris.foreach { iri => assert(mapping(iri) == expected, s"$iri → ${mapping.get(iri)}") }
    }
  }

  test("full pipeline: graph written, resumable, deterministic") {
    val out1 = Files.createTempDirectory("graft-kg1").toString
    val s1 = Pipeline.run(spark, NPages, NEntities, out1)
    assert(s1.graphRows > 0)

    // kill after 'links', then resume: identical final graph
    val out2 = Files.createTempDirectory("graft-kg2").toString
    try Pipeline.run(spark, NPages, NEntities, out2, stopAfter = Some("links"))
    catch { case _: Pipeline.PipelineStopped => () }
    val s2 = Pipeline.run(spark, NPages, NEntities, out2) // resume
    assert(s2.graphRows == s1.graphRows)

    val g1 = Materialize.read(spark, s"$out1/graph").select("subj", "pred", "obj")
      .collect().map(_.toString).sorted
    val g2 = Materialize.read(spark, s"$out2/graph").select("subj", "pred", "obj")
      .collect().map(_.toString).sorted
    assert(g1.sameElements(g2), "resumed run differs from uninterrupted run")

    // triples round-tripped through the Turtle parser: spot-check shape
    assert(g1.exists(_.contains("kg.example/ontology#mentions")))
    assert(g1.exists(_.contains("22-rdf-syntax-ns#type")))

    // lineage table exists with per-partition rows
    val lineage = spark.read.parquet(s"$out1/lineage")
    assert(lineage.count() > 0)
    assert(lineage.columns.toSet ==
      Set("stage", "partition_id", "attempt", "rows_in", "rows_out", "wall_ms"))
  }

  test("lineage dedups retried/speculative task attempts to one row per partition") {
    val c = Lineage.collector(spark)
    // simulate a retried partition: attempt 0 ran (partially), attempt 1 reran
    c.acc.add(LineageRow("stage_x", 3, 0, 10, 10, 5))
    c.acc.add(LineageRow("stage_x", 3, 1, 10, 10, 7))
    c.acc.add(LineageRow("stage_x", 4, 0, 2, 2, 1))
    // speculative duplicate of the SAME attempt (identical row)
    c.acc.add(LineageRow("stage_x", 4, 0, 2, 2, 1))
    val rows = c.rows
    assert(rows.size == 2)
    assert(rows.find(_.partition_id == 3).get.attempt == 1)
    assert(rows.find(_.partition_id == 4).get == LineageRow("stage_x", 4, 0, 2, 2, 1))
  }

  test("materialize plans exactly ONE exchange (dedup reuses the salted repartition)") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val triples = Seq(
      TripleRow("<s1>", "<p1>", "\"o\"", "u1", ts),
      TripleRow("<s1>", "<p1>", "\"o\"", "u2", ts), // dup (s,p,o), other prov
      TripleRow("<s2>", "<p2>", "\"o2\"", "u1", ts)).toDS()
    // the adaptive per-pred salt (map lookup on pred) must keep the
    // one-exchange property: subj_salt stays a function of the group keys
    val df = Materialize.saltedDeduped(
      triples.toDF(), Materialize.DefaultPredBuckets, Map("<p1>" -> 4), defaultSalt = 2)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")

    // and end-to-end: write dedups + keeps deterministic min provenance
    val out = Files.createTempDirectory("graft-mat").toString
    Materialize.write(triples, out)
    val got = Materialize.read(spark, s"$out/")
      .select("subj", "pred", "obj", "src_url").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got == Set(
      ("<s1>", "<p1>", "\"o\"", "u1"), // min(src_url, warc_ts) wins
      ("<s2>", "<p2>", "\"o2\"", "u1")))

    // adaptive write (sketched counts) produces the identical graph
    val out2 = Files.createTempDirectory("graft-mat-adaptive").toString
    Materialize.writeAdaptive(triples, out2)
    val got2 = Materialize.read(spark, s"$out2/")
      .select("subj", "pred", "obj", "src_url").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got2 == got)
  }

  test("adaptive salting spreads a 90%-rdf:type corpus: max/median task rows <= 4x") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val rdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    val n = 10000L
    // 90% of triples share one predicate (distinct subjects), 10% spread
    // over 9 cold predicates — the classic KG skew shape
    val triples = spark.range(n).map { i =>
      if (i < n * 9 / 10) TripleRow(s"<s$i>", rdfType, "\"<c>\"", s"u$i", ts)
      else TripleRow(s"<s$i>", s"<p${i % 9}>", "\"o\"", s"u$i", ts)
    }

    val counts = Materialize.sketchPredCounts(triples.toDF())
    assert(counts(rdfType) == n * 9 / 10)
    // target 500 rows/task → the hot predicate needs 18 salts; cold ones
    // stay at the parallelism floor
    val plan = Materialize.saltPlan(counts, targetRowsPerSalt = 500, maxSalt = 64, baseSalt = 2)
    assert(plan(rdfType) >= 16, s"hot pred under-salted: $plan")
    assert(plan.filterKeys(_ != rdfType).values.forall(_ == 2))

    val perPartition = Materialize
      .saltedDeduped(triples.toDF(), Materialize.DefaultPredBuckets, plan, defaultSalt = 2)
      .rdd.mapPartitions(it => Iterator(it.size)).collect().filter(_ > 0).sorted
    val median = perPartition(perPartition.length / 2)
    assert(perPartition.max <= 4 * median,
      s"skewed write tasks: max=${perPartition.max} median=$median " +
        s"(partitions: ${perPartition.mkString(",")})")
  }

  test("mergeDelta: only touched pred_hash partitions rewrite; merge equals full rewrite") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val ts = new java.sql.Timestamp(0L)
    def ph(p: String): Long = spark.range(1)
      .select(pmod(xxhash64(lit(p)), lit(Materialize.DefaultPredBuckets)))
      .collect()(0).getLong(0)
    val cands = Seq("<p:a>", "<p:b>", "<p:c>", "<p:d>")
    val p1 = cands.head
    val p2 = cands.find(c => ph(c) != ph(p1)).get

    val out = Files.createTempDirectory("graft_merge_").toString
    try {
      Materialize.write(Seq(
        TripleRow("<s1>", p1, "\"a\"", "u1", ts),
        TripleRow("<s2>", p2, "\"b\"", "u1", ts)).toDS(), out)
      def partFiles(p: String): Set[(String, Long)] = {
        val d = new java.io.File(s"$out/pred_hash=${ph(p)}")
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified)).toSet
      }
      val untouchedBefore = partFiles(p1)
      val touchedBefore = partFiles(p2)

      // delta: one new triple + one duplicate (s,p,o) with BETTER (min)
      // provenance — both in p2's partition only
      Materialize.mergeDelta(spark, out, Seq(
        TripleRow("<s3>", p2, "\"c\"", "u2", ts),
        TripleRow("<s2>", p2, "\"b\"", "u0", ts)).toDS())

      assert(partFiles(p1) == untouchedBefore,
        "dynamic overwrite rewrote an untouched partition")
      assert(partFiles(p2) != touchedBefore, "touched partition not rewritten")
      val got = Materialize.read(spark, s"$out/")
        .select("subj", "pred", "obj", "src_url").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
      assert(got == Set(
        ("<s1>", p1, "\"a\"", "u1"),
        ("<s2>", p2, "\"b\"", "u0"), // dedup kept the min provenance
        ("<s3>", p2, "\"c\"", "u2")))

      // IDEMPOTENCE: re-merging the same delta leaves the graph unchanged —
      // the property that makes an at-least-once foreachBatch delivery
      // (crash between merge and offset commit → batch re-runs)
      // effectively exactly-once for the streaming merge (kg23)
      Materialize.mergeDelta(spark, out, Seq(
        TripleRow("<s3>", p2, "\"c\"", "u2", ts),
        TripleRow("<s2>", p2, "\"b\"", "u0", ts)).toDS())
      val got2 = Materialize.read(spark, s"$out/")
        .select("subj", "pred", "obj", "src_url").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
      assert(got2 == got, "re-merge of an already-applied delta changed the graph")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("mergeDelta re-asserts a triple that a pending tombstone retracts") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val out = Files.createTempDirectory("graft_merge_reassert_").toString
    def merged() = Materialize.readMerged(spark, out)
      .select("subj").as[String].collect().toSet
    try {
      Materialize.write(Seq(
        TripleRow("<a>", "<p>", "\"1\"", "u", ts),
        TripleRow("<b>", "<p>", "\"2\"", "u", ts)).toDS(), out)
      Materialize.appendDeltaOps(spark, out,
        Seq(("<a>", "<p>", "\"1\"", "u", ts, Materialize.OpDel))
          .toDF("subj", "pred", "obj", "src_url", "warc_ts", "op"))
      assert(merged() == Set("<b>"))
      // the re-assertion is newer than the pending retraction: it must win
      Materialize.mergeDelta(spark, out, Seq(TripleRow("<a>", "<p>", "\"1\"", "v", ts)).toDS())
      assert(merged() == Set("<a>", "<b>"), "a pending tombstone hid the merged re-assertion")
      assert(Materialize.read(spark, out).select("subj").as[String].collect().toSet ==
        Set("<a>", "<b>"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("ViewStore: count view folds a diff in O(diff); untouched key partitions stay; zeroed keys vanish") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    def kh(k: String): Long = spark.range(1)
      .select(pmod(xxhash64(lit(k)), lit(ViewStore.DefaultKeyBuckets)))
      .collect()(0).getLong(0)
    // two keys in DIFFERENT key_hash buckets, plus one that will zero out
    val cands = Seq("\"en\"", "\"fr\"", "\"zh\"", "\"de\"")
    val k1 = cands.head
    val k2 = cands.find(c => kh(c) != kh(k1)).get
    val k3 = cands.find(c => kh(c) != kh(k1) && kh(c) != kh(k2)).get
    val pred = "p:lang"
    val tri = Seq(
      ("<d1>", pred, k1), ("<d2>", pred, k1), ("<d3>", pred, k2),
      ("<d4>", pred, k3), ("<dx>", "p:other", k1))
      .toDF("subj", "pred", "obj")
    val out = Files.createTempDirectory("graft_view_").toString
    try {
      ViewStore.buildCountView(tri, pred, s"$out/v")
      def partFiles(k: String): Set[(String, Long)] = {
        val d = new java.io.File(s"$out/v/key_hash=${kh(k)}")
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified)).toSet
      }
      val k1Before = partFiles(k1)
      // effective diff: +1 k2 (new subject), +1 new key "de"? no — keep to
      // buckets we control: -1 k3 (its only row: the key must vanish),
      // +1 k2; k1's bucket untouched
      val diff = Seq(
        ("add", "<d5>", pred, k2), ("del", "<d4>", pred, k3),
        ("add", "<dy>", "p:other", k1)) // other predicate: ignored
        .toDF("op", "subj", "pred", "obj")
      ViewStore.maintainCountView(spark, s"$out/v", diff, pred)
      val got = ViewStore.readView(spark, s"$out/v").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map(k1 -> 2L, k2 -> 2L), got.toString) // k3 vanished
      assert(partFiles(k1) == k1Before,
        "maintenance rewrote an untouched key_hash partition")
      // incremental == fresh over the post-diff triple set
      val after = tri.filter(!(col("subj") === "<d4>"))
        .unionByName(Seq(("<d5>", pred, k2)).toDF("subj", "pred", "obj"))
      ViewStore.buildCountView(after, pred, s"$out/fresh")
      val fresh = ViewStore.readView(spark, s"$out/fresh").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == fresh)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("ViewStore folds are retry-idempotent under a foldId; rebuild clears the ledger") {
    import spark.implicits._
    val pred = "p:lang"
    val tri = Seq(("<d1>", pred, "\"en\""), ("<d2>", pred, "\"en\""),
      ("<d3>", pred, "\"fr\"")).toDF("subj", "pred", "obj")
    val out = Files.createTempDirectory("graft_view_idem_").toString
    try {
      ViewStore.buildCountView(tri, pred, s"$out/v")
      val diff = Seq(("add", "<d4>", pred, "\"en\"")).toDF("op", "subj", "pred", "obj")
      ViewStore.maintainCountView(spark, s"$out/v", diff, pred, foldId = Some("b1"))
      def view() = ViewStore.readView(spark, s"$out/v").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(view() == Map("\"en\"" -> 3L, "\"fr\"" -> 1L))
      // an at-least-once REPLAY of the same fold: the delta would
      // double-apply without the ledger — must be a no-op
      ViewStore.maintainCountView(spark, s"$out/v", diff, pred, foldId = Some("b1"))
      assert(view() == Map("\"en\"" -> 3L, "\"fr\"" -> 1L),
        "replayed fold double-applied its diff")
      // a NEW fold id applies normally
      val diff2 = Seq(("del", "<d3>", pred, "\"fr\"")).toDF("op", "subj", "pred", "obj")
      ViewStore.maintainCountView(spark, s"$out/v", diff2, pred, foldId = Some("b2"))
      assert(view() == Map("\"en\"" -> 3L))
      // a REBUILD voids the ledger: the same fold ids apply again
      ViewStore.buildCountView(tri, pred, s"$out/v")
      ViewStore.maintainCountView(spark, s"$out/v", diff, pred, foldId = Some("b1"))
      assert(view() == Map("\"en\"" -> 3L, "\"fr\"" -> 1L))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("continuousViewMaintenance: a duplicate-statement document folds once (effective diff)") {
    import spark.implicits._
    // doc 4's row appears TWICE in the corpus: its parse asserts every
    // triple twice — legal Turtle, common in crawled data. The LSM store
    // is a set, so the graph dedups; the count view must not double-count.
    val base = (0L until 9L).map(i =>
      (i, s"text $i", if (i % 2 == 0) "en" else "fr", s"src$i", 10L + i))
    val docs = (base :+ base(4).copy()).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = Files.createTempDirectory("graft_kg83_dup_").toString
    try {
      docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
      val P = graft.ops.GraphOps.PropPrefix
      val served = graft.streaming.StreamingOps
        .continuousViewMaintenance(spark, dir, s"${P}lang")
      // the LAST batch's served view == a fresh aggregate over the full
      // (deduped) graph: per-lang doc counts, doc 4 counted once
      val lastSeq = served
        .agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.col("batch_seq").cast("long")))
        .collect()(0).getLong(0)
      val got = served.filter(org.apache.spark.sql.functions.col("batch_seq") === lastSeq)
        .select("key", "n").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expected = base.groupBy(_._3).map { case (l, rows) =>
        "\"" + l + "\"" -> rows.length.toLong }
      assert(got == expected, s"got $got expected $expected")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("ViewStore sum view: all four movement classes fold exactly (value, key, add, remove)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val (kp, vp) = ("p:lang", "p:nchars")
    def nlit(n: Int) = s""""$n"^^<x:int>"""
    // v1: d1(en,100) d2(en,200) d3(fr,300) d4(zh,400)
    val v1 = Seq(
      ("<d1>", kp, "\"en\""), ("<d1>", vp, nlit(100)),
      ("<d2>", kp, "\"en\""), ("<d2>", vp, nlit(200)),
      ("<d3>", kp, "\"fr\""), ("<d3>", vp, nlit(300)),
      ("<d4>", kp, "\"zh\""), ("<d4>", vp, nlit(400)))
      .toDF("subj", "pred", "obj")
    // v2: d1 value 100→150, d3 key fr→de, d4 removed, d5(en,50) added
    val v2 = Seq(
      ("<d1>", kp, "\"en\""), ("<d1>", vp, nlit(150)),
      ("<d2>", kp, "\"en\""), ("<d2>", vp, nlit(200)),
      ("<d3>", kp, "\"de\""), ("<d3>", vp, nlit(300)),
      ("<d5>", kp, "\"en\""), ("<d5>", vp, nlit(50)))
      .toDF("subj", "pred", "obj")
    val keys = Seq("subj", "pred", "obj")
    val diff = v2.join(v1, keys, "left_anti").withColumn("op", lit("add"))
      .unionByName(v1.join(v2, keys, "left_anti").withColumn("op", lit("del")))
    val out = Files.createTempDirectory("graft_sumview_").toString
    try {
      ViewStore.buildSumView(v1, kp, vp, s"$out/v")
      ViewStore.maintainSumView(spark, s"$out/v", diff, kp, vp,
        (p: String) => v2.filter(col("pred") === p))
      val got = ViewStore.readView(spark, s"$out/v").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // en: 150+200+50 = 400; de: 300; fr and zh vanish
      assert(got == Map("\"en\"" -> 400L, "\"de\"" -> 300L), got.toString)
      ViewStore.buildSumView(v2, kp, vp, s"$out/fresh")
      val fresh = ViewStore.readView(spark, s"$out/fresh").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == fresh)
      // plan guard: both decomposition terms join the pred-pruned scans
      // against BROADCAST diff-sized sides; no cartesian anywhere
      val plan = ViewStore.sumViewDeltas(diff, kp, vp,
        (p: String) => v2.filter(col("pred") === p))
        .queryExecution.executedPlan.toString
      assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(800))
      assert(!plan.contains("CartesianProduct"), plan.take(800))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("ViewStore max view: extremum deletes force the bounded per-key rescan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val (kp, vp) = ("p:lang", "p:nchars")
    def nlit(n: Int) = s""""$n"^^<x:int>"""
    // v1: en has d1=100, d2=200 (max 200); fr d3=300; zh d4=400
    val v1 = Seq(
      ("<d1>", kp, "\"en\""), ("<d1>", vp, nlit(100)),
      ("<d2>", kp, "\"en\""), ("<d2>", vp, nlit(200)),
      ("<d3>", kp, "\"fr\""), ("<d3>", vp, nlit(300)),
      ("<d4>", kp, "\"zh\""), ("<d4>", vp, nlit(400)))
      .toDF("subj", "pred", "obj")
    // v2: d2 (en's MAX) removed — en must DROP to d1's value, which
    // itself moved 100→150; d3 key fr→de; d4 removed (zh vanishes);
    // d5(en, 50) added (below en's max — no effect)
    val v2 = Seq(
      ("<d1>", kp, "\"en\""), ("<d1>", vp, nlit(150)),
      ("<d3>", kp, "\"de\""), ("<d3>", vp, nlit(300)),
      ("<d5>", kp, "\"en\""), ("<d5>", vp, nlit(50)))
      .toDF("subj", "pred", "obj")
    val keys = Seq("subj", "pred", "obj")
    val diff = v2.join(v1, keys, "left_anti").withColumn("op", lit("add"))
      .unionByName(v1.join(v2, keys, "left_anti").withColumn("op", lit("del")))
    val out = Files.createTempDirectory("graft_maxview_").toString
    try {
      ViewStore.buildMaxView(v1, kp, vp, s"$out/v")
      ViewStore.maintainMaxView(spark, s"$out/v", diff, kp, vp,
        (p: String) => v2.filter(col("pred") === p))
      val got = ViewStore.readView(spark, s"$out/v").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("\"en\"" -> 150L, "\"de\"" -> 300L), got.toString)
      ViewStore.buildMaxView(v2, kp, vp, s"$out/fresh")
      val fresh = ViewStore.readView(spark, s"$out/fresh").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == fresh)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("graphDiff: adds/dels exact, joins keyed on pred_hash, no cartesian") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val dir = Files.createTempDirectory("graft_diff_").toString
    try {
      Materialize.write(Seq(
        TripleRow("<s1>", "<p>", "\"a\"", "u", ts),
        TripleRow("<s2>", "<p>", "\"b\"", "u", ts)).toDS(), s"$dir/a")
      Materialize.write(Seq(
        TripleRow("<s2>", "<p>", "\"b\"", "u", ts),
        TripleRow("<s3>", "<q>", "\"c\"", "u", ts)).toDS(), s"$dir/b")
      val diff = Materialize.graphDiff(spark, s"$dir/a", s"$dir/b")
      val plan = diff.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
      // the layout's partition key must ride the join keys
      assert(plan.linesIterator.filter(_.contains("Join")).forall(_.contains("pred_hash")),
        s"diff join not keyed on pred_hash:\n${plan.take(1200)}")
      assert(diff.collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet ==
        Set(("add", "<s3>", "<q>", "\"c\""), ("del", "<s1>", "<p>", "\"a\"")))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("LSM delta path: append bytes ∝ delta (not partition), merged view exact, compact folds") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val out = Files.createTempDirectory("graft_lsm_").toString
    def bytes(p: String): Long = {
      val f = new java.io.File(p)
      if (f.exists()) org.apache.commons.io.FileUtils.sizeOfDirectory(f) else 0L
    }
    try {
      // fat hot-predicate base (unique subj/src so parquet can't collapse
      // it) + one cold predicate whose partition no delta ever touches
      val base = spark.range(20000)
        .map(i => TripleRow(s"<s$i>", "<p:hot>", "\"o\"", s"u$i", ts))
        .union(Seq(TripleRow("<c>", "<p:cold>", "\"c\"", "u", ts)).toDS())
      Materialize.write(base, out)
      val baseBytes = bytes(out)

      // the write-amplification pin mergeDelta can't pass: a 1-row delta
      // into the hot partition writes bytes ∝ the DELTA
      Materialize.appendDelta(spark, out,
        Seq(TripleRow("<sx>", "<p:hot>", "\"x\"", "u0", ts)).toDS())
      val appended = bytes(out) - baseBytes
      assert(appended > 0)
      assert(appended < baseBytes / 10,
        s"1-row append wrote $appended bytes against a $baseBytes-byte base")
      assert(Materialize.deltaBatchCount(spark, out) == 1)

      // merged view sees the delta; plain readers keep the consistent base
      assert(Materialize.readMerged(spark, out).count() == 20002)
      assert(Materialize.read(spark, out).count() == 20001)

      // cross-batch duplicate with BETTER (min) provenance wins at read
      Materialize.appendDelta(spark, out,
        Seq(TripleRow("<s0>", "<p:hot>", "\"o\"", "a0", ts)).toDS())
      val m = Materialize.readMerged(spark, out)
      assert(m.count() == 20002)
      assert(m.filter(org.apache.spark.sql.functions.col("subj") === "<s0>")
        .select("src_url").collect()(0).getString(0) == "a0")

      // third batch hits the threshold → compaction folds the log into the
      // base and drops it; the cold partition's files stay byte-identical
      val coldDir = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("pred_hash=")).map(_.toString)
        .find(d => spark.read.parquet(d).filter(
          org.apache.spark.sql.functions.col("pred") === "<p:cold>").count() > 0).get
      def coldFiles() = new java.io.File(coldDir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified, f.length)).toSet
      val coldBefore = coldFiles()
      Materialize.mergeDeltaLsm(spark, out,
        Seq(TripleRow("<sy>", "<p:hot>", "\"y\"", "u0", ts)).toDS(),
        maxDeltaBatches = 3)
      assert(Materialize.deltaBatchCount(spark, out) == 0)
      assert(!new java.io.File(s"$out/_delta").exists(), "delta log not dropped")
      assert(coldFiles() == coldBefore, "compaction rewrote an untouched partition")
      val got = Materialize.read(spark, out)
      assert(got.count() == 20003)
      assert(got.filter(org.apache.spark.sql.functions.col("subj") === "<s0>")
        .select("src_url").collect()(0).getString(0) == "a0",
        "compaction lost the min-provenance dedup")
      // post-compaction the merged view IS the base view
      assert(Materialize.readMerged(spark, out).count() == 20003)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("LSM tombstones: deletes resolve latest-batch-wins, compact consumes them") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c}
    val ts = new java.sql.Timestamp(0L)
    val out = Files.createTempDirectory("graft_lsm_del_").toString
    def ops(rows: (String, String, String, String, String)*) =
      rows.toDF("subj", "pred", "obj", "src_url", "op")
        .withColumn("warc_ts", org.apache.spark.sql.functions.lit(ts))
    try {
      Materialize.write(Seq(
        TripleRow("<s1>", "<p:hot>", "\"a\"", "u1", ts),
        TripleRow("<s2>", "<p:hot>", "\"b\"", "u2", ts),
        TripleRow("<c>", "<p:cold>", "\"c\"", "u", ts)).toDS(), out)

      // batch 1: retract s1, assert s3 — merged view drops s1 immediately
      Materialize.appendDeltaOps(spark, out, ops(
        ("<s1>", "<p:hot>", "\"a\"", "u1", "del"),
        ("<s3>", "<p:hot>", "\"d\"", "u3", "add")))
      val m1 = Materialize.readMerged(spark, out)
        .select("subj", "obj", "src_url").as[(String, String, String)].collect().toSet
      assert(m1 == Set(("<s2>", "\"b\"", "u2"), ("<s3>", "\"d\"", "u3"),
        ("<c>", "\"c\"", "u")), s"got $m1")

      // merge-on-read is BOUNDED: the untouched (cold) partition bypasses
      // the resolution exchange — exactly one exchange in the whole plan
      val plan = Materialize.readMerged(spark, out).queryExecution.executedPlan.toString
      assert(plan.contains("Union"), plan.take(800))
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
        s"untouched base partitions must bypass the dedup exchange:\n${plan.take(2000)}")

      // batch 2: re-assert s1 with NEW provenance — the resurrection takes
      // the post-delete add's prov, not the retracted original's
      Materialize.appendDeltaOps(spark, out, ops(
        ("<s1>", "<p:hot>", "\"a\"", "z9", "add")))
      val m2 = Materialize.readMerged(spark, out)
        .filter(c("subj") === "<s1>").select("src_url").as[String].collect().toSeq
      assert(m2 == Seq("z9"), s"resurrected prov: $m2")

      // within one batch, del wins over add (a batch retracts before it
      // asserts): s2 stays deleted
      Materialize.appendDeltaOps(spark, out, ops(
        ("<s2>", "<p:hot>", "\"b\"", "w1", "del"),
        ("<s2>", "<p:hot>", "\"b\"", "w2", "add")))
      assert(Materialize.readMerged(spark, out).filter(c("subj") === "<s2>").count() == 0)

      // compaction consumes tombstones: base IS the resolved state, the
      // cold partition stays byte-identical, the log is gone
      val coldDir = new java.io.File(out).listFiles()
        .filter(_.getName.startsWith("pred_hash=")).map(_.toString)
        .find(d => spark.read.parquet(d).filter(c("pred") === "<p:cold>").count() > 0).get
      def coldFiles() = new java.io.File(coldDir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified, f.length)).toSet
      val coldBefore = coldFiles()
      Materialize.compact(spark, out)
      assert(!new java.io.File(s"$out/_delta").exists())
      assert(coldFiles() == coldBefore, "compaction rewrote an untouched partition")
      val base = Materialize.read(spark, out)
        .select("subj", "obj", "src_url").as[(String, String, String)].collect().toSet
      assert(base == Set(("<s1>", "\"a\"", "z9"), ("<s3>", "\"d\"", "u3"),
        ("<c>", "\"c\"", "u")), s"post-compact base: $base")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("compact deletes a fully-retracted pred_hash partition instead of resurrecting it") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c}
    val ts = new java.sql.Timestamp(0L)
    val out = Files.createTempDirectory("graft_lsm_empty_").toString
    def ops(rows: (String, String, String, String, String)*) =
      rows.toDF("subj", "pred", "obj", "src_url", "op")
        .withColumn("warc_ts", org.apache.spark.sql.functions.lit(ts))
    try {
      // <p:solo> owns its pred_hash partition; <p:cold> keeps another alive
      Materialize.write(Seq(
        TripleRow("<s1>", "<p:solo>", "\"a\"", "u1", ts),
        TripleRow("<c>", "<p:cold>", "\"c\"", "u", ts)).toDS(), out)
      // retract EVERY triple of <p:solo>'s partition, then compact: the
      // resolved output emits no rows for that pred_hash, so dynamic
      // overwrite alone would keep the stale base files while the delta
      // log is dropped — and the retracted triples would reappear
      Materialize.appendDeltaOps(spark, out, ops(
        ("<s1>", "<p:solo>", "\"a\"", "u1", "del")))
      assert(Materialize.readMerged(spark, out)
        .filter(c("pred") === "<p:solo>").count() == 0)
      Materialize.compact(spark, out)
      val base = Materialize.read(spark, out)
        .select("subj", "pred", "obj").as[(String, String, String)].collect().toSet
      assert(base == Set(("<c>", "<p:cold>", "\"c\"")),
        s"retracted triples resurrected after compaction: $base")
      // the same gap on the quad path
      val qout = Files.createTempDirectory("graft_quad_empty_").toString
      try {
        Materialize.writeQuads(Seq(
          ("<g1>", "<s1>", "<p:solo>", "\"a\"", "u1", ts),
          ("<g1>", "<c>", "<p:cold>", "\"c\"", "u", ts))
          .toDF("graph", "subj", "pred", "obj", "src_url", "warc_ts"), qout)
        Materialize.appendQuadDeltaOps(spark, qout, Seq(
          ("<g1>", "<s1>", "<p:solo>", "\"a\"", "u1", ts, "del"))
          .toDF("graph", "subj", "pred", "obj", "src_url", "warc_ts", "op"))
        Materialize.compactQuads(spark, qout)
        val qbase = Materialize.read(spark, qout)
          .select("subj", "pred").as[(String, String)].collect().toSet
        assert(qbase == Set(("<c>", "<p:cold>")),
          s"quad compaction resurrected retractions: $qbase")
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(qout))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("quad LSM: tombstones scope to their named graph; untouched partitions bypass the exchange; compact folds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c, lit => l, when}
    val ts = new java.sql.Timestamp(0L)
    val out = Files.createTempDirectory("graft_quad_lsm_").toString
    def quads(rows: (String, String, String, String)*) =
      rows.toDF("graph", "subj", "pred", "obj")
        .withColumn("src_url", c("graph")).withColumn("warc_ts", l(ts))
    try {
      // the SAME (s, p, o) lives in two graphs; a cold predicate rides along
      Materialize.writeQuads(quads(
        ("<g:1>", "<s>", "<p:hot>", "\"a\""),
        ("<g:2>", "<s>", "<p:hot>", "\"a\""),
        ("<g:1>", "<c>", "<p:cold>", "\"c\"")), out)
      // retract (s, p, o) in g:1 ONLY, assert a new quad in g:2
      Materialize.appendQuadDeltaOps(spark, out, quads(
        ("<g:1>", "<s>", "<p:hot>", "\"a\""),
        ("<g:2>", "<t>", "<p:hot>", "\"b\""))
        .withColumn("op", when(c("graph") === "<g:1>", "del").otherwise("add")))
      def view() = Materialize.readMergedQuads(spark, out)
        .select("graph", "subj", "obj").as[(String, String, String)].collect().toSet
      assert(view() == Set(
        ("<g:2>", "<s>", "\"a\""), // the sibling graph's identical triple SURVIVES
        ("<g:2>", "<t>", "\"b\""),
        ("<g:1>", "<c>", "\"c\"")), s"got ${view()}")
      // bounded merge-on-read carries over: one exchange, cold bypasses
      val plan = Materialize.readMergedQuads(spark, out)
        .queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
        s"untouched quad partitions must bypass the dedup exchange:\n${plan.take(2000)}")
      // compact folds the log; the merged view is now the base
      Materialize.compactQuads(spark, out)
      assert(!new java.io.File(s"$out/_delta").exists())
      assert(view() == Set(("<g:2>", "<s>", "\"a\""), ("<g:2>", "<t>", "\"b\""),
        ("<g:1>", "<c>", "\"c\"")))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("updateWhereGraph: one named graph rewrites, sibling base files byte-identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c, lit => l}
    val ts = new java.sql.Timestamp(0L)
    val out = Files.createTempDirectory("graft_quad_upd_").toString
    try {
      val quads = Seq(
        ("<g:1>", "<d1>", "<p:src>", "\"s1\""), ("<g:1>", "<d1>", "<p:lang>", "\"en\""),
        ("<g:2>", "<d2>", "<p:src>", "\"s2\""), ("<g:2>", "<d2>", "<p:lang>", "\"en\""))
        .toDF("graph", "subj", "pred", "obj")
        .withColumn("src_url", c("graph")).withColumn("warc_ts", l(ts))
      Materialize.writeQuads(quads, out)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      def baseFiles() = walk(new java.io.File(out))
        .filter(f => f.getName.endsWith(".parquet") && !f.getPath.contains("_delta"))
        .map(f => (f.getPath, f.lastModified, f.length)).toSet
      val before = baseFiles()
      graft.ops.GraphOps.updateWhereGraph(spark, out, "<g:1>",
        delete = Seq(graft.ops.GraphOps.ConstructTemplate("d", "<p:src>", "s")),
        insert = Seq(graft.ops.GraphOps.ConstructTemplate("d", "<p:arch>", "s")),
        where = Seq(
          graft.ops.GraphOps.ChainPattern("d", "<p:src>", oVar = Some("s")),
          graft.ops.GraphOps.ChainPattern("d", "<p:lang>", oConst = Some("\"en\""))),
        predCounts = Map.empty, srcUrl = "upd", ts = ts)
      // the update is append-only: every base file untouched on disk
      assert(baseFiles() == before, "updateWhereGraph rewrote base files")
      val got = Materialize.readMergedQuads(spark, out)
        .select("graph", "subj", "pred", "obj")
        .as[(String, String, String, String)].collect().toSet
      assert(got == Set(
        ("<g:1>", "<d1>", "<p:arch>", "\"s1\""), ("<g:1>", "<d1>", "<p:lang>", "\"en\""),
        ("<g:2>", "<d2>", "<p:src>", "\"s2\""), ("<g:2>", "<d2>", "<p:lang>", "\"en\"")),
        s"got $got")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("readAsOf: every historical state reproducible; compact consumes history") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val out = Files.createTempDirectory("graft_asof_").toString
    def ops(rows: (String, String, String, String, String)*) =
      rows.toDF("subj", "pred", "obj", "src_url", "op")
        .withColumn("warc_ts", org.apache.spark.sql.functions.lit(ts))
    def view(seq: Long) = Materialize.readAsOf(spark, out, seq)
      .select("subj").as[String].collect().toSet
    try {
      Materialize.write(Seq(TripleRow("<a>", "<p>", "\"1\"", "u", ts)).toDS(), out)
      Materialize.appendDeltaOps(spark, out, ops(("<b>", "<p>", "\"2\"", "u", "add")))
      Materialize.appendDeltaOps(spark, out, ops(("<a>", "<p>", "\"1\"", "u", "del")))
      assert(view(0) == Set("<a>"))          // bare base
      assert(view(1) == Set("<a>", "<b>"))   // after the add batch
      assert(view(2) == Set("<b>"))          // after the retraction
      assert(view(99) == Set("<b>"))         // beyond "now" clamps to now
      assert(Materialize.readMerged(spark, out)
        .select("subj").as[String].collect().toSet == view(2))
      // compaction consumes the log: every as-of view is the new seq-0
      Materialize.compact(spark, out)
      assert(view(0) == Set("<b>") && view(1) == Set("<b>"))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("applyDiff brings an LSM table to the new snapshot; empty appends are no-ops") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val dir = Files.createTempDirectory("graft_applydiff_").toString
    try {
      Materialize.write(Seq(
        TripleRow("<s1>", "<p>", "\"a\"", "u1", ts),
        TripleRow("<s2>", "<p>", "\"b\"", "u2", ts)).toDS(), s"$dir/a")
      Materialize.write(Seq(
        TripleRow("<s2>", "<p>", "\"b\"", "v2", ts),
        TripleRow("<s3>", "<q>", "\"c\"", "v3", ts)).toDS(), s"$dir/b")

      // empty delta: no _delta dir appears, readers stay healthy (the
      // _SUCCESS-only-dir schema-inference trap)
      Materialize.appendDelta(spark, dir + "/a",
        spark.emptyDataset[TripleRow](org.apache.spark.sql.Encoders.product[TripleRow]))
      assert(!new java.io.File(s"$dir/a/_delta").exists())
      assert(Materialize.deltaBatchCount(spark, s"$dir/a") == 0)
      assert(Materialize.readMerged(spark, s"$dir/a").count() == 2)
      Materialize.compact(spark, s"$dir/a") // no-op, must not throw

      // diff v1→v2 applied as one tombstone batch == v2's CONTENT (prov of
      // the carried-over s2 stays v1's — content diffs don't re-deliver it)
      val diff = Materialize.graphDiffProv(spark, s"$dir/a", s"$dir/b")
      Materialize.applyDiff(spark, s"$dir/a", diff)
      val got = Materialize.readMerged(spark, s"$dir/a")
        .select("subj", "pred", "obj", "src_url").as[(String, String, String, String)]
        .collect().toSet
      assert(got == Set(("<s2>", "<p>", "\"b\"", "u2"), ("<s3>", "<q>", "\"c\"", "v3")),
        s"got $got")
      // and compaction preserves exactly that
      Materialize.compact(spark, s"$dir/a")
      val base = Materialize.read(spark, s"$dir/a")
        .select("subj", "pred", "obj").as[(String, String, String)].collect().toSet
      assert(base == Set(("<s2>", "<p>", "\"b\""), ("<s3>", "<q>", "\"c\"")))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("updateWhere: DELETE/INSERT WHERE as one tombstone batch, overlap survives") {
    import spark.implicits._
    import graft.ops.GraphOps
    val ts = new java.sql.Timestamp(0L)
    val out = Files.createTempDirectory("graft_update_").toString
    def merged() = Materialize.readMerged(spark, out)
      .select("subj", "pred", "obj").as[(String, String, String)].collect().toSet
    try {
      Materialize.write(Seq(
        TripleRow("<d1>", "<p:lang>", "\"en\"", "u", ts),
        TripleRow("<d1>", "<p:src>", "\"x\"", "u", ts),
        TripleRow("<d1>", "<p:keep>", "\"k\"", "u", ts),
        TripleRow("<d2>", "<p:lang>", "\"fr\"", "u", ts),
        TripleRow("<d2>", "<p:src>", "\"y\"", "u", ts)).toDS(), out)
      val counts = Map("<p:src>" -> 2L, "<p:lang>" -> 2L, "<p:arch>" -> 1L)

      // English docs' src re-predicates to arch; fr doc and keep untouched
      GraphOps.updateWhere(spark, out,
        delete = Seq(GraphOps.ConstructTemplate("d", "<p:src>", "s")),
        insert = Seq(GraphOps.ConstructTemplate("d", "<p:arch>", "s")),
        where = Seq(
          GraphOps.ChainPattern("d", "<p:src>", oVar = Some("s")),
          GraphOps.ChainPattern("d", "<p:lang>", oConst = Some("\"en\""))),
        predCounts = counts, srcUrl = "upd", ts = ts)
      assert(merged() == Set(
        ("<d1>", "<p:lang>", "\"en\""), ("<d1>", "<p:arch>", "\"x\""),
        ("<d1>", "<p:keep>", "\"k\""), ("<d2>", "<p:lang>", "\"fr\""),
        ("<d2>", "<p:src>", "\"y\"")), merged().toString)

      // SPARQL order is delete-THEN-insert: a triple instantiated by BOTH
      // template sets ends up PRESENT (naive within-batch del-wins would
      // silently drop it — the subtraction is what this pins)
      val before = merged()
      GraphOps.updateWhere(spark, out,
        delete = Seq(GraphOps.ConstructTemplate("d", "<p:arch>", "s")),
        insert = Seq(GraphOps.ConstructTemplate("d", "<p:arch>", "s")),
        where = Seq(GraphOps.ChainPattern("d", "<p:arch>", oVar = Some("s"))),
        predCounts = counts, srcUrl = "upd2", ts = ts)
      assert(merged() == before, merged().toString)

      // DELETE-only update: WHERE with no match is a no-op batch
      GraphOps.updateWhere(spark, out,
        delete = Seq(GraphOps.ConstructTemplate("d", "<p:arch>", "s")),
        insert = Seq.empty,
        where = Seq(
          GraphOps.ChainPattern("d", "<p:arch>", oVar = Some("s")),
          GraphOps.ChainPattern("d", "<p:lang>", oConst = Some("\"fr\""))),
        predCounts = counts, srcUrl = "upd3", ts = ts)
      assert(merged() == before, merged().toString)

      // and compaction preserves the updated state
      Materialize.compact(spark, out)
      assert(Materialize.read(spark, out)
        .select("subj", "pred", "obj").as[(String, String, String)]
        .collect().toSet == before)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("exportTurtleDir streams bounded chunks; blank labels stay distinct across chunks") {
    import spark.implicits._
    val rows = (0 until 10).map(i => (s"_:b$i", "http://x/p", "\"v" + i + "\"")) ++
      (0 until 5).map(i => (s"<http://x/s$i>", "http://x/p", "\"w" + i + "\""))
    val df = rows.toDF("subj", "pred", "obj").repartition(1)
    val dir = Files.createTempDirectory("graft_ttl_chunks_").toString
    try {
      graft.ops.GraphOps.exportTurtleDir(df, dir, Map("p" -> "http://x/"), rowsPerChunk = 4)
      val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".ttl"))
      assert(files.length == 1, files.map(_.getName).mkString(","))
      // peak allocation ∝ rowsPerChunk: 15 rows at 4/chunk = 4 rendered
      // documents in the one file (each with its own prefix header)
      val text = new String(java.nio.file.Files.readAllBytes(files(0).toPath), "UTF-8")
      assert("@prefix".r.findAllIn(text).size == 4, text.take(400))
      val (tris, rejects) = graft.ops.GraphOps.readTurtleDir(spark, dir)
      assert(rejects.count() == 0)
      val got = tris.collect()
      assert(got.length == 15)
      // 10 distinct blank subjects survive — per-chunk relabeling cannot
      // conflate nodes when the concatenated file re-parses as one doc
      assert(got.map(_.subj).count(_.startsWith("_:")) == 10)
      assert(got.map(_.subj).filter(_.startsWith("_:")).toSet.size == 10)
      assert(got.map(_.obj).toSet ==
        ((0 until 10).map(i => "\"v" + i + "\"") ++
          (0 until 5).map(i => "\"w" + i + "\"")).toSet)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("readTurtleDir parses the 29-fixture corpus through Spark, zero rejects") {
    val dir = "src/test/resources/turtle/positive"
    val (triples, rejects) = graft.ops.GraphOps.readTurtleDir(spark, dir)
    assert(rejects.count() == 0)
    val got = triples.collect().groupBy(_.src_url)
      .map { case (url, ts) => url -> ts.map(t => (t.subj, t.pred, t.obj)).toSet }
    assert(got.size == 29)
    // per-file equivalence with a driver-side scoped parse of the same bytes
    got.foreach { case (url, spark_triples) =>
      val path = java.nio.file.Paths.get(new java.net.URI(url))
      val text = new String(java.nio.file.Files.readAllBytes(path),
        java.nio.charset.StandardCharsets.UTF_8)
      val tag = java.lang.Long.toHexString(Mentions.hash64(url))
      val expected = graft.turtle.Turtle.parseToTriplesScoped(text, tag)
        .toOption.get.map(t => (t.subj.render, t.pred, t.obj.render)).toSet
      assert(spark_triples == expected, s"mismatch for $url")
    }
  }

  test("readPred prunes pred_hash partitions and pushes the pred filter") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val triples = Seq(
      TripleRow("<s1>", "<http://kg.example/p1>", "\"a\"", "u", ts),
      TripleRow("<s2>", "<http://kg.example/p2>", "\"b\"", "u", ts)).toDS()
    val out = Files.createTempDirectory("graft-prune").toString
    Materialize.write(triples, out)
    val read = Materialize.readPred(spark, out, "<http://kg.example/p1>")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("pred_hash"),
      plan.take(1200))
    assert(plan.contains("PushedFilters:") && plan.contains("EqualTo(pred"),
      plan.take(1200))
    val rows = read.select("subj").collect().map(_.getString(0))
    assert(rows.toSeq == Seq("<s1>"))
  }

  test("readMergedPred: both sides prune to one pred_hash partition, tombstones resolve") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val ts = new java.sql.Timestamp(0L)
    val out = Files.createTempDirectory("graft-mergedpred").toString
    try {
      Materialize.write(Seq(
        TripleRow("<s1>", "<http://kg.example/p1>", "\"a\"", "u1", ts),
        TripleRow("<s2>", "<http://kg.example/p1>", "\"b\"", "u2", ts),
        TripleRow("<s3>", "<http://kg.example/p2>", "\"c\"", "u3", ts)).toDS(), out)
      Materialize.appendDeltaOps(spark, out,
        Seq(("<s1>", "<http://kg.example/p1>", "\"a\"", "u1", "del"),
          ("<s4>", "<http://kg.example/p1>", "\"d\"", "u4", "add"))
          .toDF("subj", "pred", "obj", "src_url", "op").withColumn("warc_ts", lit(ts)))
      val m = Materialize.readMergedPred(spark, out, "<http://kg.example/p1>")
      val plan = m.queryExecution.executedPlan.toString
      // BOTH scans (base and delta log) carry the pred_hash partition
      // filter and the pushed pred filter
      assert("PartitionFilters: \\[[^\\]]*pred_hash".r.findAllIn(plan).size == 2,
        plan.take(2500))
      assert("EqualTo\\(pred,".r.findAllIn(plan).size >= 2, plan.take(2500))
      val got = m.select("subj", "obj").as[(String, String)].collect().toSet
      assert(got == Set(("<s2>", "\"b\""), ("<s4>", "\"d\"")), s"got $got")
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("triple P/R vs single-threaded oracle ≥ 0.95 (exactly 1.0 by construction)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-kg3").toString
    Pipeline.run(spark, 100L, NEntities, out)
    val got = Materialize.read(spark, s"$out/graph")
      .select("subj", "pred", "obj").as[(String, String, String)].collect().toSet

    // oracle: sequential driver-side run of the same stage functions
    val aliasSurfaces = PageGen.entityDictionary(NEntities).map(_.alias)
    val ac = AhoCorasick.build(aliasSurfaces.distinct.sorted)
    val dict = PageGen.entityDictionary(NEntities)
    val aliasToEntities = dict.groupBy(_.alias).view.mapValues(_.map(_.entity_iri).sorted).toMap
    // canonical mapping oracle (shared-alias clusters)
    val canon: Map[String, String] = (0 until NEntities).filter(_ % 10 == 0)
      .groupBy(k => PageGen.sharedAlias(k).get).values
      .flatMap { ks => val iris = ks.map(PageGen.entityIri); iris.map(_ -> iris.min) }
      .toMap
    // NB the oracle replicates linking only for UNAMBIGUOUS surfaces; for
    // shared aliases it accepts the canonical cluster representative, which
    // is what the pipeline emits post-canonicalization either way.
    val nameToEntity = (0 until NEntities).map(k => PageGen.entityName(k) -> PageGen.entityIri(k)).toMap
    val nospaceToEntity = (0 until NEntities)
      .map(k => PageGen.entityName(k).replace(" ", "") -> PageGen.entityIri(k)).toMap

    val oracle = (0L until 100L).flatMap { n =>
      val url = PageGen.pageUrl(n)
      val text = PageGen.pageText(n, NEntities)
      val ments = Mentions.scanPage(ac, url, text).toSeq
      val ents = ments.flatMap { m =>
        val e = nameToEntity.get(m.surface).orElse(nospaceToEntity.get(m.surface))
          .orElse(aliasToEntities.get(m.surface).map(_.min)) // ambiguous → scored; cluster rep below
        e.map(iri => canon.getOrElse(iri, iri))
      }.distinct
      val labelOf = (iri: String) => {
        val k = iri.substring(iri.lastIndexOf('/') + 1).toInt
        PageGen.entityName(k)
      }
      val ttl = TripleEmit.turtleForPage(url, PageGen.pageTs(n).getTime, PageGen.pageLang(n),
        ents.map(e => (e, labelOf(e))))
      graft.turtle.Turtle.parseToTriples(ttl).toOption.get
        .map(t => (t.subj.render, t.pred, t.obj.render))
    }.toSet

    val tp = (got intersect oracle).size.toDouble
    val precision = tp / got.size
    val recall = tp / oracle.size
    assert(precision >= 0.95, s"precision $precision")
    assert(recall >= 0.95, s"recall $recall")
  }
}
