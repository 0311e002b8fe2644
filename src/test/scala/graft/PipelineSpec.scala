package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity}

/** Semantics of the training-data-pipeline operators on controlled
  * inputs (SURVEY §2.2) — known duplicates, known vectors.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"

  test("exact dedup groups identical texts") {
    val df = Seq((1L, base), (2L, base), (3L, "something else entirely here"))
      .toDF("doc_id", "text")
    val got = df.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .collect()
    assert(got.length == 2)
    assert(got.find(_.getLong(2) == 2L).exists(_.getLong(1) == 1L))
  }

  test("minhash LSH surfaces a true near-duplicate pair") {
    // doc 2 appends one word to doc 1 (jaccard ≈ 0.92); doc 3 unrelated
    val nearDup = base + " tomorrow"
    val docs = Seq((1L, base), (2L, nearDup),
      (3L, "completely different content with no overlap whatsoever in any shingle"))
      .toDF("doc_id", "text")
    val sg = Dedup.signed(docs)
    val cands = Dedup.minhashCandidates(sg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)), s"expected (1,2) in $cands")
    assert(!cands.contains((1L, 3L)) && !cands.contains((2L, 3L)), cands.toString)
    val jac = Dedup.verifiedJaccard(Dedup.minhashCandidates(sg), sg)
      .where(col("a") === 1 && col("b") === 2)
      .head().getDouble(2)
    assert(jac > 0.5 && jac < 1.0, s"jaccard $jac")
  }

  test("native simhash60: identical texts equal, near-dups close, unrelated far") {
    import graft.functions.Native
    val df = Seq((1L, base), (2L, base), (3L, "unrelated words entirely different"),
      (4L, base + " extra"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Native.simhash60(col("text")).as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(m(1L) != m(3L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(1L), m(4L)) < hamming(m(1L), m(3L)),
      s"near-dup should be closer: ${hamming(m(1L), m(4L))} vs ${hamming(m(1L), m(3L))}")
  }

  test("salted LSH candidate join equals the plain band join") {
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    // shifted copy creates hot buckets (every doc collides with its copy)
    val doubled = docs.union(
      docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val sg = Dedup.signed(doubled)
    val plain = Dedup.minhashCandidates(sg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = Dedup.minhashCandidatesSalted(sg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.nonEmpty && salted == plain,
      s"salted ${salted.size} vs plain ${plain.size}")
  }

  test("connected components: chains merge, isolates stay singletons") {
    import graft.operators.Dedup
    // components: {1,2,3,4} (a chain), {10,11}, isolate {20}
    val vs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("v")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L)
    // small-graph fast path (driver union-find) …
    val got = Dedup.connectedComponents(vs, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, got.toString)
    // … and the distributed min-label loop must agree (forced)
    val gotDist = Dedup.connectedComponents(vs, edges, localThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist == expected, gotDist.toString)
  }

  test("incremental connected components equal a full recompute") {
    import graft.operators.Dedup
    def sym(pairs: Seq[(Long, Long)]) = {
      val p = pairs.toDF("a", "b")
      p.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(p.select(col("b").as("src"), col("a").as("dst")))
    }
    // epoch 1: components {1,2,3}, {10,11}; 20 isolated
    val vs1 = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("v")
    val labels1 = Dedup.connectedComponents(vs1, sym(Seq((1L, 2L), (2L, 3L), (10L, 11L))))
    // epoch 2: a bridge 3–10 merges two old components; 30–31 is new
    val newEdges = sym(Seq((3L, 10L), (30L, 31L)))
    val incr = Dedup.incrementalComponents(labels1, newEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(
      Seq(1L, 2L, 3L, 10L, 11L, 20L, 30L, 31L).toDF("v"),
      sym(Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 10L), (30L, 31L))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr == full, s"incremental $incr vs full $full")
    assert(incr(11L) == 1L, "old components merged by the bridge must relabel")
    // both code paths (driver union-find above; distributed forced)
    val incrDist = Dedup.incrementalComponents(labels1, newEdges, localThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incrDist == full)
  }

  test("incremental dedup over the persisted band index equals a full recompute") {
    import graft.sources.Snapshots
    val table = s"${Roots.scratch}/pipeline-spec/mh_index"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(table))
    val d = Tables.load(spark, sfDir, "documents")
    assert(Dedup.buildBandIndex(d.where(col("doc_id") % 10 =!= 0), table) == 1)
    val batch = d.where(col("doc_id") % 10 === 0)
    def run() = Dedup.dedupAgainstIndex(batch, table, 1, "t", 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val incr = run()

    // full rerun: the d_dedup_minhash per-doc pipeline over ALL
    // documents, restricted to the batch ids
    val sg = Dedup.signed(d)
    val near = Dedup.verifiedJaccard(Dedup.minhashCandidates(sg), sg)
      .where(col("jaccard") >= 0.5)
    val per = near.select(col("a").as("doc_id"), col("jaccard"))
      .unionAll(near.select(col("b").as("doc_id"), col("jaccard")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_near_dups"), max(col("jaccard")).as("max_jaccard"))
    val full = sg
      .select(col("doc_id"), size(col("shingles")).cast("long").as("n_shingles"))
      .join(per, Seq("doc_id"), "left")
      .na.fill(Map("n_near_dups" -> 0L, "max_jaccard" -> -1.0))
      .where(col("doc_id") % 10 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(incr == full, s"incremental $incr vs full $full")

    // the batch's signatures were appended exactly-once: a replayed
    // call neither grows the index nor changes the answer
    val vAfter = Snapshots.currentVersion(table)
    assert(vAfter == 2, s"batch append should be v2, got $vAfter")
    assert(run() == incr)
    assert(Snapshots.currentVersion(table) == vAfter, "replay committed twice")
  }

  test("IVF at √N centroids: probes read ~NProbe/C of the corpus") {
    val e = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
    val n = e.count()
    val c = math.sqrt(n.toDouble).round.toInt  // the 100 TB sizing rule
    val (centroids, _) = Similarity.ivfBuild(e, c = c, rounds = 2)
    val q = Similarity.quantize(col("embedding"))
    val v = e.select(col("vec_id"), q.as("q"))
      .withColumn("nrm", Similarity.dotL(col("q"), col("q")))
    val assigned = Similarity.ivfAssign(v, centroids).localCheckpoint()
    assert(assigned.count() == n, "every vector lands in exactly one list")
    // k-means lists skew, but reading the NProbe densest lists must
    // still be a small corpus fraction — the serving-cost claim
    val listSizes = assigned.groupBy("cid").agg(count(lit(1)).as("sz"))
      .orderBy(col("sz").desc).collect().map(_.getLong(1))
    val worstProbe = listSizes.take(2).sum.toDouble  // NProbe = 2
    assert(worstProbe / n < 0.25,
      s"2 densest of ${listSizes.length} lists hold ${worstProbe / n} of the corpus")
    val avgProbe = 2.0 * n / listSizes.length
    assert(worstProbe < 8 * avgProbe,
      s"list skew: worst 2-probe $worstProbe vs avg $avgProbe")
  }

  test("IVF scaling study: probe read fraction falls as centroid count grows") {
    val e = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val n = e.count().toDouble
    val q = Similarity.quantize(col("embedding"))
    val v = e.select(col("vec_id"), q.as("q"))
      .withColumn("nrm", Similarity.dotL(col("q"), col("q"))).localCheckpoint()
    // doubling C should roughly halve what a 2-probe query reads —
    // the knob that keeps probe cost flat as the corpus grows 100×
    // (resize C ∝ √N and both the probe fraction AND the broadcast
    // centroid table grow as √)
    val fractions = Seq(4, 8, 16).map { c =>
      val (centroids, objective) = Similarity.ivfBuild(e, c = c, rounds = 2)
      assert(objective.sliding(2).forall(w => w.last <= w.head * (1 + 1e-9)),
        s"C=$c: Lloyd objective must not increase: $objective")
      val sizes = Similarity.ivfAssign(v, centroids)
        .groupBy("cid").agg(count(lit(1)).as("sz"))
        .orderBy(col("sz").desc).collect().map(_.getLong(1))
      assert(sizes.length == c, s"C=$c: every centroid owns a list")
      sizes.take(2).sum / n // worst-case 2-probe read fraction
    }
    assert(fractions(0) > fractions(1) && fractions(1) > fractions(2),
      s"probe fraction must fall with C: $fractions")
    assert(fractions(2) < fractions(0) / 2,
      s"4x the centroids should at least halve the probe read: $fractions")
  }

  test("PQ ANN recall: compressed-code shortlist finds most true top-5 neighbors") {
    val pq = SparkEntry.queries("s_knn_pq")(spark, sfDir)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bfW = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    val bf = SparkEntry.queries("s_knn_bruteforce")(spark, sfDir)
      .withColumn("rn", row_number().over(bfW)).where(col("rn") <= 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pq & bf).size.toDouble / bf.size
    // seed codebooks (untrained) with a 64-wide ADC shortlist; trained
    // codebooks (ivfBuild per subspace) and a wider shortlist are the
    // recall knobs — 0.84 measured at sf0.01, 0.6 is the floor asserted
    assert(recall >= 0.6, s"PQ recall@5 = $recall")
  }

  test("IVF lists stay current under appends via the clustered snapshot path") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.execution.FileSourceScanExec
    val table = s"${Roots.scratch}/pipeline-spec/ivf_clustered"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(table))
    val e = Tables.load(spark, sfDir, "embeddings")
    val (cents, _) = Similarity.ivfBuild(e, c = 8, rounds = 1)
    val q = Similarity.quantize(col("embedding"))
    val v = e.select(col("vec_id"), q.as("q"))
      .withColumn("nrm", Similarity.dotL(col("q"), col("q"))).localCheckpoint()
    val assignedAll = Similarity.ivfAssign(v, cents)
      .select("vec_id", "cid").localCheckpoint()

    // bootstrap the clustered index with even ids; odd ids arrive
    // later as a cheap unclustered delta (the nightly-append shape)
    Snapshots.commitClustered(
      assignedAll.where(col("vec_id") % 2 === 0), table, Seq("cid"))
    Snapshots.commitAppend(assignedAll.where(col("vec_id") % 2 =!= 0), table)

    def contents() = Snapshots.read(spark, table)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = assignedAll.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(contents() == expect, "merge-on-read must serve base + delta")

    // compaction re-clusters ONLY the delta; content identical, and a
    // one-list probe prunes at the scan again
    Snapshots.compact(spark, table, Seq("cid"))
    assert(contents() == expect, "compaction must not change content")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def rowsScanned(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case sc: FileSourceScanExec => sc.metrics("numOutputRows").value
        }.sum
      }
      val probed = rowsScanned(Snapshots.read(spark, table).where(col("cid") === 3))
      val total = expect.size
      assert(probed < total / 2,
        s"post-compaction probe must prune: scanned $probed of $total")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // pre-append version still time-travels
    assert(Snapshots.readVersion(spark, table, 1).count() ==
      assignedAll.where(col("vec_id") % 2 === 0).count())
  }

  test("graph expansion lifts recall over plain LSH banding") {
    // sf0.01: 500 vectors — at sf0.001's 50 vectors the 8-bit bands
    // barely collide and EVERY candidate-based method starves
    val dir = "/root/testdata/sf0.01"
    def top5(name: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
      SparkEntry.queries(name)(spark, dir)
        .withColumn("r", row_number().over(w)).where(col("r") <= 5)
        .select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val bf = top5("s_knn_bruteforce")
    val lsh = top5("s_knn_lsh")
    val graph = top5("s_knn_graph")
    def recall(s: Set[(Long, Long)]) = (s & bf).size.toDouble / bf.size
    // one hop through the kNN graph can only ADD candidates to the
    // seed pool, so recall vs the exact top-5 is monotone. (Absolute
    // recall is low for EVERY candidate-based method on this table's
    // random near-orthogonal embeddings — the true top-5 are barely
    // closer than random, which banding cannot see; the planted
    // near-duplicates that LSH exists for are covered by
    // d_dedup_embedding. PQ-family methods score the whole corpus and
    // dodge the problem — that's the measured 0.84 vs ~0.1 gap.)
    assert(recall(graph) >= recall(lsh) && recall(graph) > 0,
      s"graph ${recall(graph)} vs lsh ${recall(lsh)}")
    assert((graph -- lsh).nonEmpty,
      "one hop must surface neighbors plain banding missed")
    // full beam search iterates the hop with a frontier + visited set:
    // recall is monotone again — beam ≥ one-hop ≥ banding
    val beam = top5("s_knn_beam")
    assert(recall(beam) >= recall(graph),
      s"beam ${recall(beam)} vs one-hop ${recall(graph)} vs lsh ${recall(lsh)}")
    // both graph queries SERVE hops from the persisted edge table — the
    // graph is a parquet scan in the plan, not an in-query rebuild
    Seq("s_knn_graph", "s_knn_beam").foreach { q =>
      val plan = physicalPlan(SparkEntry.queries(q)(spark, dir))
      assert(plan.contains("/knngraph"),
        s"$q must scan the persisted graph table:\n$plan")
    }
    // the CONVERGENCE-run variant (production serving; outside the
    // oracle contract — DuckDB cannot unroll a data-dependent round
    // count): terminates within its cap by the visited-set argument,
    // and extra rounds only ever ADD candidates, so recall ≥ the
    // bounded catalog twin's
    val convergedDf = graft.operators.Similarity.beamUntilConverged(spark, dir)
    val w5 = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    val converged = convergedDf.withColumn("r", row_number().over(w5))
      .where(col("r") <= 5).select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(recall(converged) >= recall(beam),
      s"converged ${recall(converged)} must be >= bounded beam ${recall(beam)}")
  }

  test("hybrid RRF serves BOTH retriever sides from pinned index scans") {
    // the production contract: lexical side reads the bucket-pruned
    // postings, vector side reads the cid-pruned IVF lists — neither
    // side ever scans the corpus (DumpPlans truncates at 60 lines, so
    // this is the durable evidence for the vector subtree)
    val plan = physicalPlan(
      SparkEntry.queries("s_hybrid_rrf")(spark, "/root/testdata/sf0.01"))
    assert(plan.contains("/invidx"),
      "hybrid lexical side must scan the persisted postings index")
    assert(plan.contains("/ivf/"),
      "hybrid vector side must scan the persisted IVF lists")
  }

  test("event pattern matching: one shuffle, counts agree with a direct scan") {
    val dir = sfDir
    val df = SparkEntry.queries("q_events_pattern")(spark, dir)
    // the whole query is one user_id shuffle: build-string + regex are
    // group-local, so exactly one exchange may appear
    val plan = physicalPlan(df)
    assert("Exchange ".r.findAllIn(plan).size == 1,
      s"pattern matching must shuffle once on user_id:\n$plan")
    // cross-check one motif without regex: per-user purchase count is
    // an upper bound on conversions, and total conversions are > 0 on
    // every SF's corpus
    val rows = df.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.values.map(_._2).sum > 0, "no conversions found at all")
    val byUser = spark.read.parquet(s"$dir/events.parquet")
      .where(col("event_type") === "purchase")
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (u, (_, conv, _)) =>
      assert(conv <= byUser.getOrElse(u, 0L),
        s"user $u: $conv conversions but only ${byUser.getOrElse(u, 0L)} purchases")
    }
  }

  test("shard export: contiguous offsets, balanced shards, one shared sort") {
    val dir = sfDir
    val df = SparkEntry.queries("t_shard_export")(spark, dir)
    // both windows (row_number + running byte offset) must share ONE
    // (shard, h, doc_id) sort — a second Sort node would mean the
    // export pays the shuffle twice
    val plan = physicalPlan(df)
    assert("(?s)Sort ".r.findAllIn(plan).size == 1,
      s"the two export windows must share one sort:\n$plan")
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val chars = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // within a shard, each row's offset is the previous row's offset
    // plus its byte length — the seek manifest is gapless from 0
    rows.groupBy(_._1).values.foreach { shard =>
      val ordered = shard.sortBy(_._2)
      assert(ordered.head._4 == 0L, "first row of a shard starts at byte 0")
      ordered.sliding(2).foreach {
        case Array((_, _, d1, o1), (_, _, _, o2)) =>
          assert(o2 == o1 + chars(d1), s"gap after doc $d1")
        case _ =>
      }
    }
    // the salted hash spreads docs evenly: no shard more than 2x the
    // uniform share (a deterministic bound for these corpora)
    val sizes = rows.groupBy(_._1).values.map(_.length)
    assert(sizes.max <= 2 * (rows.length / 8),
      s"shard skew: ${sizes.mkString(",")}")
  }

  test("pagerank: mass conserved, teleport floor exact, serves the persisted graph") {
    val dir = sfDir
    val plan = physicalPlan(SparkEntry.queries("s_graph_pagerank")(spark, dir))
    assert(plan.contains("/knngraph"),
      s"pagerank must scan the persisted graph table:\n$plan")
    val graph = Similarity.knnGraphTable(spark, dir)
    val nN = graph.select("g_src").distinct().count()
    val nE = graph.count()
    val scale = 1000000000000L
    val teleport = (15L * scale) / (100L * nN)
    val ranks = Similarity.pagerankRanks(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ranks.length == nN)
    // every integral DIV truncates: each of the 4 rounds loses < 1 per
    // edge (contrib), < 1 per node (damping), < 1 per node (teleport) —
    // mass stays within that loss band of the invariant total
    val mass = ranks.map(_._2).sum
    assert(mass <= scale, s"mass $mass exceeds scale")
    assert(mass >= scale - 5 * (nE + 2 * nN),
      s"mass $mass lost more than the truncation bound")
    // a node nobody links to gets EXACTLY the teleport share, every
    // round; any in-edge adds a strictly positive damped contribution
    val inDeg = graph.groupBy("g_dst").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ranks.foreach { case (vid, rank) =>
      if (inDeg.contains(vid)) assert(rank > teleport,
        s"node $vid has in-edges but sits at the teleport floor")
      else assert(rank == teleport,
        s"orphan $vid should hold exactly the teleport share, got $rank")
    }
  }

  test("served IVF+PQ equals the in-query trainer, prunes codes, and runs fewer jobs") {
    val dir = sfDir
    // first call may build the index; the A/B below counts the SERVED
    // steady state's Spark jobs against the in-query trainer's
    val served = SparkEntry.queries("s_knn_ivfpq")(spark, dir)
    val plan = physicalPlan(served)
    assert("""PartitionFilters: \[cid#\d+ IN \(""".r.findFirstIn(plan).isDefined,
      s"the code-table scan must prune to the probed cids:\n$plan")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val trained = Similarity.ivfPqInQuery(spark, dir)
    assert(rows(served) == rows(trained),
      "serving the persisted artifacts must be bit-identical to training in-query")
    // same-session A/B: serving skips the coarse Lloyd round and the
    // corpus encode entirely, so it launches fewer jobs (a job count,
    // unlike wall-clock, does not move with the host's load)
    val jServe = jobsDuring(SparkEntry.queries("s_knn_ivfpq")(spark, dir).collect())
    val jTrain = jobsDuring(Similarity.ivfPqInQuery(spark, dir).collect())
    info(s"ivfpq: served $jServe jobs vs in-query trainer $jTrain jobs")
    assert(jServe < jTrain,
      s"serving must run fewer jobs than in-query training: $jServe vs $jTrain")
    // the trained-PQ pair: persisted codebooks + codes vs in-query Lloyd
    val pqServed = SparkEntry.queries("s_knn_pq_served")(spark, dir)
    val pqTrained = SparkEntry.queries("s_knn_pq_trained")(spark, dir)
    assert(rows(pqServed) == rows(pqTrained),
      "served trained-PQ must equal the in-query trainer bit-for-bit")
    val jPqServe = jobsDuring(SparkEntry.queries("s_knn_pq_served")(spark, dir).collect())
    val jPqTrain = jobsDuring(SparkEntry.queries("s_knn_pq_trained")(spark, dir).collect())
    info(s"trained pq: served $jPqServe jobs vs in-query trainer $jPqTrain jobs")
    assert(jPqServe < jPqTrain,
      s"PQ serving must run fewer jobs than in-query training: $jPqServe vs $jPqTrain")
  }

  test("IVF+PQ code table maintains under appends: encode only the batch") {
    import graft.sources.Snapshots
    val root = s"${Roots.scratch}/pipeline-spec/pq_ingest"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(root))
    val codesT = s"$root/codes"
    val e = Tables.load(spark, sfDir, "embeddings")
    val oldE = e.where(col("vec_id") % 3 =!= 2)
    val batchE = e.where(col("vec_id") % 3 === 2)
    // quantizers train once on the initial corpus and are FROZEN
    val (cents, _) = Similarity.ivfBuild(oldE, c = 8, rounds = 1)
    val cb = Similarity.pqSeedCodebooks(oldE).localCheckpoint()

    def codeRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("n_id"), col("c_m"), col("code"), col("cid").cast("long"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    Similarity.ivfPqIngestBatch(oldE, cents, cb, codesT, "pq_s1", 0L)
    val v = Similarity.ivfPqIngestBatch(batchE, cents, cb, codesT, "pq_s1", 1L)
    def codesNow() = Snapshots.readPartitionedDirs(spark, codesT, v)
    // two appends == one full encode of everything, under the same
    // frozen quantizers — per-vector encoding makes appends exact
    assert(codeRows(codesNow()) == codeRows(Similarity.pqEncode(e, cents, cb)),
      "incremental code appends must equal the full encode")
    // a replayed batch no-ops
    Similarity.ivfPqIngestBatch(batchE, cents, cb, codesT, "pq_s1", 1L)
    assert(Snapshots.currentVersion(codesT) == v)
    // the appended dirs keep the partitioned layout: a one-list probe
    // still prunes at the scan in BOTH dirs' branches
    val plan = physicalPlan(codesNow().where(col("cid") === 3))
    assert("""PartitionFilters: \[.*cid""".r.findAllIn(plan).size == 2, plan)
  }

  test("incremental graph fold equals the full rebuild edge-for-edge") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val oldE = e.where(col("vec_id") % 10 =!= 9)
    val newIds = e.where(col("vec_id") % 10 === 9).select("vec_id")
    def edges(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oldG = Similarity.buildGraph(oldE).localCheckpoint()
    val inc = Similarity.graphAppendIncremental(e, oldG, newIds)
    val full = Similarity.buildGraph(e)
    assert(edges(inc) == edges(full),
      "folding the batch must reproduce the full rebuild exactly")
    // the batch is not a no-op: it displaces old-graph edges
    assert(edges(oldG) != edges(full))
  }

  test("index builds are claim-elected: two racing builders, one build") {
    import graft.sources.Snapshots
    val table = s"${Roots.scratch}/pipeline-spec/idx_race"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(table))
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val racers = (1 to 2).map(_ => Future {
      Snapshots.ensureIndex(table, "fp_a") { out =>
        builds.incrementAndGet()
        Thread.sleep(300) // widen the race window for the loser
        Seq((1L, 2L)).toDF("g_src", "g_dst").write.parquet(out)
      }
    })
    val vs = racers.map(f => Await.result(f, 120.seconds))
    assert(builds.get() == 1,
      s"the claim must elect exactly ONE builder, ${builds.get()} built")
    assert(vs.toSet.size == 1, s"both callers must serve the same version: $vs")
    // content key: a different input fingerprint REBUILDS (regenerated
    // data at the same path can never be served a stale index) ...
    val v2 = Snapshots.ensureIndex(table, "fp_b") { out =>
      builds.incrementAndGet()
      Seq((3L, 4L)).toDF("g_src", "g_dst").write.parquet(out)
    }
    assert(builds.get() == 2 && v2 != vs.head)
    assert(spark.read.parquet(Snapshots.versionDirs(table, v2): _*)
      .head().getLong(0) == 3L)
    // ... while the original fingerprint still serves its pinned version
    assert(Snapshots.ensureIndex(table, "fp_a")(_ =>
      fail("fp_a is already committed — must not rebuild")) == vs.head)
  }

  test("stale claim (crashed winner) is taken over immediately, no timeout stall") {
    import graft.sources.Snapshots
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val table = s"${Roots.scratch}/pipeline-spec/idx_stale"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(table))
    // plant the artifact a crashed winner leaves behind: a claim file
    // older than the timeout, with no tagged commit
    val metaDir = Paths.get(table, "meta")
    Files.createDirectories(metaDir)
    val claim = metaDir.resolve(".claim_fp_x")
    Files.createFile(claim)
    Files.setLastModifiedTime(claim,
      FileTime.fromMillis(System.currentTimeMillis() - 600000L))
    val t0 = System.nanoTime()
    val v = Snapshots.ensureIndex(table, "fp_x", timeoutMs = 120000) { out =>
      Seq((7L, 8L)).toDF("g_src", "g_dst").write.parquet(out)
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(spark.read.parquet(Snapshots.versionDirs(table, v): _*)
      .head().getLong(0) == 7L)
    // the old behavior slept the full 120 s window; takeover must build
    // right away (generous slack for a cold parquet write)
    assert(elapsedMs < 30000,
      s"stale-claim takeover took ${elapsedMs} ms — looks like a timeout stall")
    assert(!Files.exists(claim), "takeover winner must clear the claim")
  }

  test("live winner building LONGER than timeoutMs keeps its claim (heartbeat)") {
    import graft.sources.Snapshots
    val table = s"${Roots.scratch}/pipeline-spec/idx_heartbeat"
    Snapshots.deleteRecursively(table)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // winner's build (sleep + write) runs ~3× the claim timeout; its
    // heartbeat (timeout/4 touches) must keep the claim live so the
    // late waiter neither hijacks it at 1× timeout (the pre-heartbeat
    // failure: age-only staleness) nor falls through at its fixed
    // deadline (the pre-sliding-wait failure) — exactly ONE build
    val winner = Future {
      Snapshots.ensureIndex(table, "fp_slow", timeoutMs = 1000) { out =>
        builds.incrementAndGet()
        Thread.sleep(3000)
        Seq((1L, 2L)).toDF("g_src", "g_dst").write.parquet(out)
      }
    }
    Thread.sleep(300) // let the winner claim first
    val waiter = Future {
      Snapshots.ensureIndex(table, "fp_slow", timeoutMs = 1000) { out =>
        builds.incrementAndGet()
        Seq((9L, 9L)).toDF("g_src", "g_dst").write.parquet(out)
      }
    }
    val vW = Await.result(winner, 120.seconds)
    val vL = Await.result(waiter, 120.seconds)
    assert(builds.get() == 1,
      s"heartbeat must keep the slow build's claim: ${builds.get()} builds")
    assert(vW == vL && spark.read.parquet(Snapshots.versionDirs(table, vW): _*)
      .head().getLong(0) == 1L)
  }

  test("IVF drift: shifted batch raises the metric, re-train trigger recovers") {
    import graft.sources.Snapshots
    import org.apache.spark.sql.expressions.Window
    val root = s"${Roots.scratch}/pipeline-spec/ivf_drift"
    Snapshots.deleteRecursively(root)
    val (baseT, centsT, listsT) = (s"$root/vecs", s"$root/cents", s"$root/lists")
    val e = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    Snapshots.commitOverwrite(e.where(col("vec_id") < 400), baseT)
    Similarity.ivfListsMaintain(spark, baseT, centsT, listsT)
    val drift0 = Similarity.ivfDriftOf(spark, baseT, centsT)
    // in-distribution corpus: the trigger must not fire
    assert(!Similarity.ivfRetrainIfDrifted(spark, baseT, centsT, listsT),
      "trigger fired with no distribution shift")
    // inject a SHIFTED batch: +3.0 on every component puts the cloud
    // far from every train-time centroid
    val shifted = e.where(col("vec_id") >= 400 && col("vec_id") < 500)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x + lit(3.0f)).as("embedding"))
    Snapshots.commitAppend(shifted, baseT)
    Similarity.ivfListsMaintain(spark, baseT, centsT, listsT)
    val driftShifted = Similarity.ivfDriftOf(spark, baseT, centsT)
    assert(driftShifted > drift0,
      s"shifted batch must raise the drift metric ($drift0 -> $driftShifted)")
    // probe-cost proxy: the whole shifted cloud piles into one stale
    // list — record the max list size before the re-train
    def maxList(): Long = Similarity.serveIvfLists(spark, listsT)
      .groupBy("cid").count().agg(max("count")).head().getLong(0)
    val maxBefore = maxList()
    // the documented 1.5x threshold fires and re-trains via ivfBuild
    assert(Similarity.ivfRetrainIfDrifted(spark, baseT, centsT, listsT),
      "trigger must fire after the shift")
    val driftAfter = Similarity.ivfDriftOf(spark, baseT, centsT)
    assert(driftAfter < driftShifted,
      s"re-train must recover the drift metric ($driftShifted -> $driftAfter)")
    // re-trained quantizer gives the shifted cloud its own centroids:
    // the overgrown list shrinks back toward sqrt(N) scale
    assert(maxList() < maxBefore,
      s"re-train must break up the overgrown list ($maxBefore -> ${maxList()})")
    // recall under the probe does not regress: exact top-5 neighbors
    // of 3 shifted queries vs 2-probe serving, before ≤ after
    def topk(qids: Seq[Long], probed: Boolean): Map[Long, Set[Long]] = {
      val base = Snapshots.read(spark, baseT)
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
      val withN = base.withColumn("nrm", Similarity.dotL(col("q"), col("q")))
      val qs = withN.where(col("vec_id").isin(qids: _*))
        .toDF("q_id", "q_q", "q_nrm")
      val cands: org.apache.spark.sql.DataFrame = if (!probed) {
        broadcast(qs).crossJoin(withN.toDF("n_id", "n_q", "n_nrm"))
      } else {
        val cents = broadcast(Snapshots.read(spark, centsT))
        val byDist = Window.partitionBy("q_id").orderBy(col("m"), col("cid"))
        val probes = qs.crossJoin(cents)
          .withColumn("m", graft.functions.Native
            .sqDistScaled(col("q_q"), col("cs"), col("cn")).cast("double") /
            (col("cn") * col("cn")).cast("double"))
          .withColumn("rn", row_number().over(byDist)).where(col("rn") <= 2)
          .select("q_id", "q_q", "q_nrm", "cid")
        val lists = Similarity.serveIvfLists(spark, listsT)
          .select(col("vec_id").as("n_id"), col("q").as("n_q"),
            col("nrm").as("n_nrm"), col("cid"))
        broadcast(probes).join(lists, Seq("cid"))
          .select("q_id", "q_q", "q_nrm", "n_id", "n_q", "n_nrm")
      }
      val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
      cands.where(col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), Similarity.cosine(
          Similarity.dotL(col("q_q"), col("n_q")),
          col("q_nrm"), col("n_nrm")).as("sim"))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
        .collect().groupBy(_.getLong(0))
        .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    }
    val qids = Seq(100400L, 100410L, 100420L)
    val exact = topk(qids, probed = false)
    def recall(got: Map[Long, Set[Long]]): Double =
      qids.map(q => (got.getOrElse(q, Set.empty) & exact(q)).size).sum /
        (5.0 * qids.size)
    val recallAfter = recall(topk(qids, probed = true))
    assert(recallAfter >= 0.8, s"post-re-train probe recall $recallAfter < 0.8")
    // and a second trigger check idles at the NEW baseline
    assert(!Similarity.ivfRetrainIfDrifted(spark, baseT, centsT, listsT),
      "trigger must re-arm against the re-trained baseline")
  }

  test("size-ratio compaction policy bounds tombstone debt over a long DML sequence") {
    import graft.sources.Snapshots
    import graft.functions.TextFunctions
    val root = s"${Roots.scratch}/pipeline-spec/compact_policy"
    Snapshots.deleteRecursively(root)
    val (baseT, postT) = (s"$root/docs", s"$root/postings")
    val d = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").where(col("doc_id") < 200)
    Snapshots.commitOverwrite(d, baseT)
    TextFunctions.postingsMaintain(spark, baseT, postT)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("term", "doc_id", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    var compactions = 0
    for (i <- 1 to 6) {
      // churn a 25% slice per cycle: delete + reinsert with new text,
      // so every fold appends real tombstone + insert postings
      Snapshots.deleteWhere(spark, baseT, col("doc_id") % 4 === i % 4)
      Snapshots.commitAppend(
        d.where(col("doc_id") % 4 === i % 4)
          .select(col("doc_id"), concat(col("text"), lit(s" rev$i")).as("text")),
        baseT)
      TextFunctions.postingsMaintain(spark, baseT, postT)
      // post-maintenance invariant of the policy: either it fired this
      // cycle (debt back to zero) or the debt is under threshold — a
      // long DML sequence can never accrete unbounded tombstones
      val (base, delta) = Snapshots.compactionDebt(spark, postT)
      assert(delta <= 0.5 * math.max(base, 1L),
        s"cycle $i: delta $delta rows exceeds the policy bound (base $base)")
      if (delta == 0) compactions += 1
      // serving invariant THROUGHOUT, not just at the end
      assert(rows(TextFunctions.Postings.net(Snapshots.read(spark, postT))) ==
        rows(TextFunctions.postingsOf(Snapshots.read(spark, baseT))),
        s"cycle $i: maintained serving diverged from a full rebuild")
    }
    assert(compactions >= 1,
      "25%-churn cycles must trip the 0.5 size-ratio trigger at least once")
    // post-compaction maintenance still no-ops at the carried watermark
    val vHead = Snapshots.currentVersion(postT)
    assert(TextFunctions.postingsMaintain(spark, baseT, postT) == vHead)
  }

  test("delete-aware postings maintenance: fold ≡ full rebuild, commits stay O(batch)") {
    import graft.sources.Snapshots
    import graft.functions.TextFunctions
    val root = s"${Roots.scratch}/pipeline-spec/postings_dml"
    Snapshots.deleteRecursively(root)
    val (baseT, postT) = (s"$root/docs", s"$root/postings")
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    // bootstrap 90% of the corpus as two dirs, so the manifest has
    // structure to diff; the %10 == 0 slice is the later append batch
    Snapshots.commitOverwrite(
      d.where(col("doc_id") % 10 =!= 0 && col("doc_id") % 2 === 0), baseT)
    Snapshots.commitAppend(
      d.where(col("doc_id") % 10 =!= 0 && col("doc_id") % 2 === 1), baseT)
    TextFunctions.postingsMaintain(spark, baseT, postT)
    val v1 = Snapshots.currentVersion(postT)
    // idempotent: already-current maintenance commits nothing
    assert(TextFunctions.postingsMaintain(spark, baseT, postT) == v1)
    // real DML: delete a slice, append the held-out batch, ONE fold
    Snapshots.deleteWhere(spark, baseT, col("doc_id") % 7 === 0)
    Snapshots.commitAppend(d.where(col("doc_id") % 10 === 0), baseT)
    val v2 = TextFunctions.postingsMaintain(spark, baseT, postT)
    // the fold APPENDS one tombstone-delta dir — never rewrites the index
    val (dirs1, dirs2) = (Snapshots.versionDirs(postT, v1).toSet,
      Snapshots.versionDirs(postT, v2).toSet)
    assert(dirs1.subsetOf(dirs2) && (dirs2 -- dirs1).size == 1,
      s"expected one appended delta dir, got ${dirs2 -- dirs1}")
    // maintained net index ≡ postings of the live corpus, row for row
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("term", "doc_id", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val served = rows(TextFunctions.Postings.net(Snapshots.read(spark, postT)))
    val rebuilt = rows(TextFunctions.postingsOf(Snapshots.read(spark, baseT)))
    assert(served == rebuilt, "net-served postings must equal a full rebuild")
    // and the DML really removed something (the equivalence is not
    // vacuous): the deleted slice of the ORIGINAL base is gone — the
    // appended batch may legitimately carry its own %7 == 0 docs
    assert(Snapshots.read(spark, baseT)
      .where(col("doc_id") % 7 === 0 && col("doc_id") % 10 =!= 0).count() == 0)
    // MAJOR compaction: tombstone debt nets into one clean version —
    // serving unchanged, physical rows shrink to the live set, the
    // watermark carries forward so maintenance still no-ops
    val physBefore = Snapshots.read(spark, postT).count()
    TextFunctions.Postings.compact(spark, postT)
    assert(Snapshots.read(spark, postT).count() < physBefore,
      "compaction must shed tombstone + cancelled rows")
    assert(rows(TextFunctions.Postings.net(Snapshots.read(spark, postT))) == rebuilt,
      "serving must be unchanged by compaction")
    val vHead = Snapshots.currentVersion(postT)
    assert(TextFunctions.postingsMaintain(spark, baseT, postT) == vHead,
      "post-compaction maintenance must still no-op at the carried watermark")
  }

  test("delete-aware postings maintenance absorbs keyed MERGE updates") {
    import graft.sources.Snapshots
    import graft.functions.TextFunctions
    val root = s"${Roots.scratch}/pipeline-spec/postings_merge"
    Snapshots.deleteRecursively(root)
    val (baseT, postT) = (s"$root/docs", s"$root/postings")
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    Snapshots.commitOverwrite(d.where(col("doc_id") < 40), baseT)
    TextFunctions.postingsMaintain(spark, baseT, postT)
    // a CDC upsert batch: REPLACE five docs' text (delete-old +
    // insert-new of the SAME doc_id — the fold path where only exact
    // tombstone netting keeps the index right) and insert five new docs
    val changed = d.where(col("doc_id") < 5)
      .select(col("doc_id"), concat(col("text"), lit(" merged extra tokens")).as("text"))
    val fresh = d.where(col("doc_id") >= 40 && col("doc_id") < 45)
    Snapshots.merge(spark, baseT, changed.unionByName(fresh), "doc_id")
    TextFunctions.postingsMaintain(spark, baseT, postT)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("term", "doc_id", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val served = rows(TextFunctions.Postings.net(Snapshots.read(spark, postT)))
    val rebuilt = rows(TextFunctions.postingsOf(Snapshots.read(spark, baseT)))
    assert(served == rebuilt,
      "after MERGE, net postings must equal a full rebuild of the merged corpus")
    // the updated docs really score their NEW tokens
    assert(served.exists { case (t, id, _) => t == "merged" && id < 5 })
  }

  test("scale law: pruned search serving reads a vanishing fraction of the index") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // the serving contract at 100 TB: bucket PartitionFilters + pushed
    // term literals + term-sorted runs keep the postings READ close to
    // O(term postings). Measure rows out of the index scans for the
    // served conjunctive query at two corpus sizes: the scanned
    // fraction of the index must not grow with the corpus.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (dir <- Seq(sfSmall, sfBig)) {
        val df = SparkEntry.queries("t_inverted_search")(spark, dir)
        df.collect()
        val scanned = df.queryExecution.executedPlan.collect {
          case sc: FileSourceScanExec
              if sc.metadata.get("Location").exists(_.contains("invidx")) =>
            sc.metrics("numOutputRows").value
        }.sum
        val post = graft.functions.TextFunctions
          .postingsOf(Tables.load(spark, dir, "documents"))
        val matched = post.where(col("term")
          .isin("scan", "merge", "stream", "value", "hash", "join")).count()
        val index = post.count()
        // scan OUTPUT = the matched postings (the pushed IN answers the
        // rest) — O(term postings), independent of how big the index is.
        // (On this tiny-vocabulary synthetic corpus the query terms are
        // the Zipf head — matched/index is large — which is exactly why
        // the contract is vs MATCHED, not vs a fraction of the index.)
        assert(scanned <= matched * 11 / 10 + 100,
          s"$dir: scan must output only matched postings: $scanned vs $matched (index $index)")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("delete-aware band-index maintenance: tombstone fold ≡ re-signed rebuild") {
    import graft.sources.Snapshots
    import graft.operators.Dedup
    val root = s"${Roots.scratch}/pipeline-spec/band_dml"
    Snapshots.deleteRecursively(root)
    val (baseT, idxT) = (s"$root/docs", s"$root/bandidx")
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    Snapshots.commitOverwrite(d.where(col("doc_id") % 10 =!= 0), baseT)
    Dedup.bandIndexMaintain(spark, baseT, idxT)
    Snapshots.deleteWhere(spark, baseT, col("doc_id") % 7 === 0)
    Snapshots.commitAppend(d.where(col("doc_id") % 10 === 0), baseT)
    Dedup.bandIndexMaintain(spark, baseT, idxT)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "band", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val served = rows(Dedup.serveBandIndex(spark, idxT))
    val rebuilt = rows(Dedup.bandedSigned(Snapshots.read(spark, baseT)))
    assert(served == rebuilt, "net-served band index must equal re-signing the live corpus")
    assert(served.nonEmpty)
    // major compaction: tombstones net away, serving unchanged,
    // maintenance still no-ops at the carried watermark
    val physBefore = Snapshots.read(spark, idxT).count()
    Dedup.BandIndex.compact(spark, idxT)
    assert(Snapshots.read(spark, idxT).count() < physBefore)
    assert(rows(Dedup.serveBandIndex(spark, idxT)) == rebuilt)
    val vHead = Snapshots.currentVersion(idxT)
    assert(Dedup.bandIndexMaintain(spark, baseT, idxT) == vHead)
  }

  test("bm25 maintenance: two DML cycles, per-table watermarks, idempotent") {
    import graft.sources.Snapshots
    import graft.functions.TextFunctions
    val root = s"${Roots.scratch}/pipeline-spec/bm25_cycles"
    Snapshots.deleteRecursively(root)
    val (baseT, postT, dlT, totT) =
      (s"$root/docs", s"$root/postings", s"$root/doclen", s"$root/totals")
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    Snapshots.commitOverwrite(d.where(col("doc_id") < 40), baseT)
    TextFunctions.bm25Maintain(spark, baseT, postT, dlT, totT)
    // cycle 1: delete + append, fold
    Snapshots.deleteWhere(spark, baseT, col("doc_id") % 3 === 0)
    Snapshots.commitAppend(d.where(col("doc_id") >= 40 && col("doc_id") < 45), baseT)
    TextFunctions.bm25Maintain(spark, baseT, postT, dlT, totT)
    // cycle 2: another delete + append, fold again (multi-cycle folds
    // must compose — each delta lands against the prior watermark)
    Snapshots.deleteWhere(spark, baseT, col("doc_id") % 5 === 1)
    Snapshots.commitAppend(d.where(col("doc_id") >= 45 && col("doc_id") < 50), baseT)
    TextFunctions.bm25Maintain(spark, baseT, postT, dlT, totT)
    // idempotence: a re-run advances NO table (per-table watermarks)
    val heads = Seq(postT, dlT, totT).map(Snapshots.currentVersion)
    TextFunctions.bm25Maintain(spark, baseT, postT, dlT, totT)
    assert(Seq(postT, dlT, totT).map(Snapshots.currentVersion) == heads)
    // the maintained state ≡ a rebuild of the live corpus, table by table
    val live = Snapshots.read(spark, baseT)
    val dlNet = Snapshots.read(spark, dlT).groupBy("doc_id")
      .agg(sum(col("dl")).cast("long").as("dl")).where(col("dl") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dlWant = TextFunctions.docLengths(live)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dlNet == dlWant, "netted doclens must equal the live corpus")
    val tot = Snapshots.read(spark, totT)
      .agg(sum(col("np")).cast("long"), sum(col("totalp")).cast("long")).head()
    assert((tot.getLong(0), tot.getLong(1)) ==
      (dlWant.size.toLong, dlWant.toSeq.map(_._2).sum),
      "summed scalar partials must equal live corpus count/total")
    val postNet = TextFunctions.Postings.net(Snapshots.read(spark, postT))
      .select("term", "doc_id", "tf")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val postWant = TextFunctions.postingsOf(live).select("term", "doc_id", "tf")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(postNet == postWant, "netted postings must equal the live corpus")
  }

  test("delete-aware IVF lists: compaction is serving-invariant") {
    import graft.sources.Snapshots
    import graft.operators.Similarity
    val root = s"${Roots.scratch}/pipeline-spec/ivf_dml_compact"
    Snapshots.deleteRecursively(root)
    val (baseT, centsT, listsT) = (s"$root/vecs", s"$root/cents", s"$root/lists")
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    Snapshots.commitOverwrite(e.where(col("vec_id") % 10 =!= 0), baseT)
    Similarity.ivfListsMaintain(spark, baseT, centsT, listsT)
    Snapshots.deleteWhere(spark, baseT, col("vec_id") % 7 === 0)
    Snapshots.commitAppend(e.where(col("vec_id") % 10 === 0), baseT)
    Similarity.ivfListsMaintain(spark, baseT, centsT, listsT)
    def served = Similarity.serveIvfLists(spark, listsT)
      .select("vec_id", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = served
    val physBefore = Snapshots.read(spark, listsT).count()
    Similarity.IvfLists.compact(spark, listsT)
    assert(Snapshots.read(spark, listsT).count() < physBefore,
      "compaction must shed cancelled assignment rows")
    assert(served == before, "serving must be unchanged by compaction")
    val vHead = Snapshots.currentVersion(listsT)
    Similarity.ivfListsMaintain(spark, baseT, listsT = listsT, centsT = centsT)
    assert(Snapshots.currentVersion(listsT) == vHead,
      "post-compaction maintenance must no-op at the carried watermark")
  }

  test("fileFingerprint changes when input is regenerated in place") {
    import graft.sources.Snapshots
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val p = Paths.get(s"${Roots.scratch}/pipeline-spec/fp_probe")
    Files.createDirectories(p.getParent)
    Files.write(p, "one".getBytes)
    Files.setLastModifiedTime(p, FileTime.fromMillis(1000000L))
    val f1 = Snapshots.fileFingerprint(p.toString)
    assert(Snapshots.fileFingerprint(p.toString) == f1, "fingerprint must be stable")
    // same byte LENGTH, new mtime — the regenerated-testdata shape
    Files.write(p, "two".getBytes)
    Files.setLastModifiedTime(p, FileTime.fromMillis(2000000L))
    assert(Snapshots.fileFingerprint(p.toString) != f1,
      "regenerating the input must invalidate the fingerprint")
  }

  test("trained PQ codebooks: Lloyd objective falls, recall at least holds") {
    val e = Tables.load(spark, sfDir, "embeddings")
    def recallOf(cents: org.apache.spark.sql.DataFrame): Double = {
      val pq = Similarity.pqSearch(e, cents, nQueries = 5, shortlist = 64, k = 5)
        .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val bfW = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
      val bf = SparkEntry.queries("s_knn_bruteforce")(spark, sfDir)
        .withColumn("rn", row_number().over(bfW)).where(col("rn") <= 5)
        .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (pq & bf).size.toDouble / bf.size
    }
    val (seeds, _) = Similarity.pqBuild(e, rounds = 0)
    val (trained, objective) = Similarity.pqBuild(e, rounds = 2)
    assert(objective.sliding(2).forall(w => w.last <= w.head * (1 + 1e-9)),
      s"per-subspace Lloyd objective must not increase: $objective")
    val (rs, rt) = (recallOf(seeds), recallOf(trained))
    assert(rt >= 0.6, s"trained PQ recall@5 = $rt")
    assert(rt >= rs - 0.08, s"training should not cost recall: seed $rs trained $rt")
  }

  test("native sorted-intersect matches array_intersect semantics") {
    import graft.functions.Native
    val df = Seq((Seq(1L, 3L, 5L, 7L), Seq(2L, 3L, 5L, 9L, 11L))).toDF("a", "b")
    val got = df.select(Native.sortedIntersectSize(col("a"), col("b"))).head().getLong(0)
    assert(got == 2L)
    val empty = Seq((Seq.empty[Long], Seq(1L))).toDF("a", "b")
    assert(empty.select(Native.sortedIntersectSize(col("a"), col("b"))).head().getLong(0) == 0L)
  }

  test("native functions registered for SQL via extensions") {
    val r = spark.sql(
      "SELECT graft_simhash60('a b c') AS h, graft_cosine_f32(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c, " +
      "graft_dot_long(array(2L, 3L), array(4L, 5L)) AS d, " +
      "graft_sorted_intersect_size(array(1L, 3L, 5L), array(3L, 5L, 7L)) AS i")
      .head()
    assert(r.getDouble(1) == 1.0)
    assert(r.getLong(2) == 23L)
    assert(r.getLong(3) == 2L)
  }

  test("cosine similarity: identical int vectors give exactly 1.0") {
    val df = Seq((1L, Seq(0.1f, 0.2f, 0.3f)), (2L, Seq(0.1f, 0.2f, 0.3f)),
      (3L, Seq(-0.3f, 0.1f, -0.2f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("q"))
    val a = df.where(col("vec_id") === 1).select(col("q").as("qa")).crossJoin(
      df.where(col("vec_id") === 2).select(col("q").as("qb")))
      .select(Similarity.cosine(
        Similarity.dotL(col("qa"), col("qb")),
        Similarity.dotL(col("qa"), col("qa")),
        Similarity.dotL(col("qb"), col("qb"))).as("sim"))
      .head().getDouble(0)
    assert(a == 1.0)
  }

  test("brute-force knn returns k neighbors per query, best-first") {
    val rows = SparkEntry.queries("s_knn_bruteforce")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { ns =>
      assert(ns.length == 10)
      val sims = ns.map(_._3).toSeq
      assert(sims == sims.sorted.reverse, "not sorted desc")
    }
  }

  test("IVF k-means objective is non-increasing across Lloyd rounds") {
    val (centroids, obj) = Similarity.ivfBuild(
      Tables.load(spark, sfDir, "embeddings"), c = 8, rounds = 3)
    assert(obj.length == 4)
    obj.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-6, s"objective increased: $obj")
    }
    assert(obj.last < obj.head, s"no improvement at all: $obj")
    assert(centroids.count() <= 8 && centroids.count() > 0)
  }

  test("IVF inverted lists persist partitioned by centroid and prune on probe") {
    import graft.sources.Sources
    val e = Tables.load(spark, sfDir, "embeddings")
    val (centroids, _) = Similarity.ivfBuild(e, c = 8, rounds = 1)
    val q = Similarity.quantize(col("embedding"))
    val v = e.select(col("vec_id"), q.as("q"))
      .withColumn("nrm", Similarity.dotL(col("q"), col("q")))
    val assigned = Similarity.ivfAssign(v, centroids)
      .select("vec_id", "cid")
    val path = s"${Roots.scratch}/ivf-lists"
    Sources.writePartitioned(assigned, path, "cid")
    // probing one list reads only that partition directory
    val probe = spark.read.parquet(path).where(col("cid") === centroids.head().getLong(0))
    val plan = physicalPlan(probe)
    assert(plan.contains("PartitionFilters: [isnotnull(cid"), plan)
    // lists are complete and disjoint
    assert(spark.read.parquet(path).count() == v.count())
    assert(spark.read.parquet(path).select("vec_id").distinct().count() == v.count())
  }

  test("multimodal stub decode agrees with the columnar meta query") {
    val decoded = Multimodal.decodeAll(Multimodal.asMediaTable(spark, sfDir))
      .collect().map(d => d.doc_id -> d).toMap
    val meta = SparkEntry.queries("m_multimodal_meta")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(decoded.keySet == meta.keySet)
    for ((id, d) <- decoded) {
      val m = meta(id)
      assert(d.n_bytes == m.getLong(1), s"doc $id n_bytes")
      assert(d.features.width == m.getLong(3), s"doc $id width")
      assert(d.features.height == m.getLong(4), s"doc $id height")
      assert(d.features.nFrames == m.getLong(5), s"doc $id frames")
    }
  }

  test("real image decode: JDK codec path yields exact dims + luma; non-image falls back to stub") {
    // encode a REAL 40x20 PNG in memory with the same JDK codec stack
    // (no external libs): pixel (x, y) = rgb(x*6, y*12, (x+y)*4)
    val (w, h) = (40, 20)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var expectedLumaSum = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = (x * 6, y * 12, (x + y) * 4)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
      expectedLumaSum += 299L * r + 587L * g + 114L * b
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val png = bos.toByteArray
    val media = Seq(
      Multimodal.MediaRecord(1L, png),
      Multimodal.MediaRecord(2L, "definitely not an image payload".getBytes("UTF-8")))
      .toDS()
    val out = Multimodal.decodeAllReal(media).collect().map(d => d.doc_id -> d).toMap
    val real = out(1L)
    assert(real.is_real, "png payload must route to the real decoder")
    assert(real.width == w && real.height == h, s"dims ${real.width}x${real.height}")
    assert(real.mean_luma_x1000 == expectedLumaSum / (w.toLong * h),
      s"luma ${real.mean_luma_x1000} vs expected ${expectedLumaSum / (w.toLong * h)}")
    val fake = out(2L)
    assert(!fake.is_real && fake.mean_luma_x1000 == -1L)
    val stub = Multimodal.decodeStub("definitely not an image payload".getBytes("UTF-8"), 2L)
    assert(fake.width == stub.width && fake.height == stub.height
      && fake.n_frames == stub.nFrames, "fallback arm must equal the stub")
    // a payload with a valid image MAGIC but corrupt body makes
    // imageio throw RuntimeExceptions, not IOException — the router
    // must still fall back to the stub instead of crashing the scan
    val corrupt = png.take(40) ++ Array.fill[Byte](30)(0x7f)
    val c = Multimodal.decodeAllReal(
      Seq(Multimodal.MediaRecord(3L, corrupt)).toDS()).collect().head
    assert(!c.is_real, "corrupt-body image must route to the stub, not crash")
  }

  test("phash near-dup finds exactly the brightness variants at hamming 0; dhash is shift-invariant") {
    val got = Multimodal.phashNearDup.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    // the planted pairs: each base i pairs with its +5-brightness
    // variant i+8 and nothing else survives the hamming gate
    assert(got.toSeq == (0L until 8L).map(i => (i, i + 8, 0L)),
      s"pairs: ${got.mkString(", ")}")
    // direct unit proof of the invariance the query relies on: a
    // uniform brightness shift leaves every gradient sign unchanged
    def mk(shift: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(20, 12,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 12; x <- 0 until 20) {
        val (r, g, b) = ((53 * x + 9 * y) % 240 + shift,
          (31 * y) % 240 + shift, (17 * x * y) % 240 + shift)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      img
    }
    val (a, b) = (Multimodal.dhash(mk(0)), Multimodal.dhash(mk(9)))
    assert(a.h0 == b.h0 && a.h1 == b.h1, "dhash must ignore uniform brightness")
    assert(a.h0 >= 0 && a.h1 >= 0, "packed halves must stay non-negative")
  }

  test("WAV roundtrip is bit-exact; audio frames conserve samples; corrupt bytes route to None") {
    val samples = Array.tabulate(1234)(t => ((t * 31 % 4001) - 2000).toShort)
    val wav = Multimodal.encodeWav(samples, 16000f)
    val back = Multimodal.decodeWav(wav)
    assert(back.isDefined && back.get.sameElements(samples),
      "PCM16 WAV roundtrip must recover every sample exactly")
    assert(Multimodal.decodeWav("not audio at all".getBytes("UTF-8")).isEmpty)
    // corrupt-body payload must not throw (None or salvaged prefix both fine)
    Multimodal.decodeWav(wav.take(30) ++ Array.fill[Byte](20)(0x55))
    val rows = Multimodal.audioDecodeReal.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val perClip = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    for (i <- 0L until 8L)
      assert(perClip(i) == 800 + 100 * i, s"clip $i sample count ${perClip(i)}")
    // energy bound per frame: n * 1000^2 max amplitude
    rows.foreach { case (c, f, n, sa, e) =>
      assert(sa <= n * 1000 && e <= n * 1000000, s"clip $c frame $f out of bounds")
    }
  }

  test("winsorize invariants: clip fractions bounded by the percentile ranks, mean inside [p5, p95]") {
    val rows = SparkEntry.queries("q_events_winsorize")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, lo, hi) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (p5, p95, mean) = (r.getLong(4), r.getLong(5), r.getDouble(6))
      assert(p5 <= p95, s"${r.getString(0)}: p5 $p5 > p95 $p95")
      // strictly-below-p5 rows have rank < max(1,(n*5) div 100) <= 0.05n;
      // strictly-above-p95 rows number at most n - (n*95+99) div 100 <= 0.05n
      assert(lo * 100 <= n * 5, s"${r.getString(0)}: clip_low $lo of $n")
      assert(hi * 100 <= n * 5, s"${r.getString(0)}: clip_high $hi of $n")
      assert(mean >= p5 && mean <= p95,
        s"${r.getString(0)}: winsorized mean $mean outside [$p5, $p95]")
    }
  }

  test("train/test split: deterministic across runs, per-lang proportions near 8/1/1") {
    val run1 = SparkEntry.queries("t_train_test_split")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val run2 = SparkEntry.queries("t_train_test_split")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(run1 == run2, "split assignment must be bit-deterministic")
    val byLang = run1.groupBy(_._1._1)
    byLang.foreach { case (lang, cells) =>
      val tot = cells.values.map(_._1).sum.toDouble
      val train = cells.collectFirst { case ((_, "train"), (n, _)) => n }.getOrElse(0L)
      // hash uniformity: the 80% arm stays within a wide deterministic band
      assert(train / tot > 0.6 && train / tot < 0.95,
        s"$lang train fraction ${train / tot}")
    }
  }

  test("as-of join picks latest prior-or-equal right time, null when none") {
    import graft.operators.AsOfJoin
    val l = Seq((1L, 10L, "a"), (1L, 25L, "b"), (2L, 5L, "c"))
      .toDF("k", "t", "payload")
    val r = Seq((1L, 10L), (1L, 20L), (2L, 7L)).toDF("k", "t")
    val got = AsOfJoin.asOf(l, r, "k", "t")
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (if (x.isNullAt(3)) -1L else x.getLong(3))).toMap
    assert(got((1L, 10L)) == 10L)   // equal time matches
    assert(got((1L, 25L)) == 20L)   // latest prior
    assert(got((2L, 5L)) == -1L)    // nothing at or before
  }

  test("langid marker scoring is deterministic and self-consistent") {
    val got = SparkEntry.queries("t_langid")(spark, sfDir).collect()
    assert(got.length == 500)
    got.foreach { r =>
      val scores = Map("de" -> r.getInt(1), "en" -> r.getInt(2),
        "es" -> r.getInt(3), "fr" -> r.getInt(4))
      val pred = r.getString(5)
      assert(scores(pred) == scores.values.max, s"pred $pred not argmax in $scores")
    }
  }

  // ---- scale laws: candidate counts on a 10× corpus must track the
  // ---- bucketing math each family's 100 TB claim rests on

  private val sfSmall = "/root/testdata/sf0.01"
  private val sfBig = "/root/testdata/sf0.1"   // 10× the documents

  test("scale law: minhash LSH candidates grow linearly, never quadratically") {
    def count(dir: String): (Double, Double) = {
      val docs = Tables.load(spark, dir, "documents")
      (docs.count().toDouble,
        Dedup.minhashCandidates(Dedup.signed(docs)).count().toDouble)
    }
    val ((n1, c1), (n2, c2)) = (count(sfSmall), count(sfBig))
    // the (band, bucket) domain is ~1e9, so random band collisions are
    // negligible: candidates are dominated by TRUE near-duplicates,
    // whose count is linear in N at a constant dup rate. 2× slack.
    assert(c2 <= 2.0 * (n2 / n1) * c1,
      s"candidate growth superlinear: N $n1->$n2, candidates $c1->$c2")
    // and a vanishing fraction of all N²/2 pairs (no quadratic work)
    assert(c2 <= n2 * n2 / 2 / 1000,
      s"candidates not a vanishing fraction of all pairs: $c2 of ${n2 * n2 / 2}")
  }

  test("scale law: simhash block candidates track the N²/buckets prediction") {
    def count(dir: String): (Double, Double) = {
      val docs = Tables.load(spark, dir, "documents")
      (docs.count().toDouble, Dedup.simhashCandidates(docs).count().toDouble)
    }
    val ((n1, c1), (n2, c2)) = (count(sfSmall), count(sfBig))
    // block collisions dominate: candidates scale with N² (the 4
    // 15-bit blocks divide the N²/2 pairs by a data-dependent but
    // scale-free constant). The 10× corpus must show a ~100× count,
    // within 2× either way.
    val ratio = c2 / c1
    val predicted = (n2 / n1) * (n2 / n1)
    assert(ratio >= predicted / 2 && ratio <= predicted * 2,
      s"quadratic scaling violated: ratio $ratio vs predicted $predicted")
  }

  test("scale law: embedding LSH candidates within 2× of Bands·C(N,2)/2^bits") {
    for (dir <- Seq(sfSmall, sfBig)) {
      val e = Tables.load(spark, dir, "embeddings")
      val n = e.count().toDouble
      val c = Similarity.lshCandidatePairs(e).count().toDouble
      // 3 OR-bands of 8 sign bits: uniform-hash expectation is
      // 3 · C(N,2) / 256 per the SURVEY §5 claim; real embeddings sit
      // within 2× of uniform (signs decorrelate across hyperplanes)
      val predicted = 3.0 * n * (n - 1) / 2 / 256
      assert(c >= predicted / 2 && c <= predicted * 2,
        s"$dir: $c candidates vs predicted $predicted (N=$n)")
    }
  }

  test("scale law: PPJoin prefix filter cuts candidates well below the block baseline") {
    for (dir <- Seq(sfSmall, sfBig)) {
      val docs = Tables.load(spark, dir, "documents")
      val cand = Dedup.ngramCandidates(spark, dir).count().toDouble
      // baseline: exhaustive all-pairs within each (lang, len_band)
      // block — what candidate generation would cost with blocking only
      val blockPairs = docs.groupBy(col("lang"), floor(col("n_chars") / 40))
        .agg(count(lit(1)).as("c"))
        .agg(sum((col("c") * (col("c") - 1)).cast("long") / 2).cast("long"))
        .head().getLong(0).toDouble
      assert(cand < blockPairs / 2,
        s"$dir: prefix filter left $cand of $blockPairs block pairs")
    }
  }

  test("scale law: semantic-dedup pair work stays under the N·cap ≈ 4·N^1.5 bound") {
    for (dir <- Seq(sfSmall, sfBig)) {
      val e = Tables.load(spark, dir, "embeddings")
      val n = e.count()
      val c = math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)
      val cap = Similarity.SemCapFactor * ((n + c - 1) / c)
      val shards = Similarity.semanticClusters(e)
        .groupBy("cid", "sub").agg(count(lit(1)).as("s"))
        .agg(max(col("s")).as("mx"),
          sum((col("s") * (col("s") - 1)) / 2).cast("long").as("pairs"))
        .head()
      val (mx, pairs) = (shards.getLong(0), shards.getLong(1))
      // the salting contract: no pairing shard exceeds the hot cap
      assert(mx <= cap, s"$dir: hottest shard $mx exceeds cap $cap (N=$n)")
      // ⇒ in-cluster pair work ≤ N·cap/2 ≈ 2·N^1.5 — the SemDeDup
      // N²/C shape with C GROWING as ⌈√N⌉; fixed-C would be quadratic
      assert(pairs <= n * cap / 2, s"$dir: $pairs pairs vs N·cap/2 = ${n * cap / 2}")
      // and nowhere near the N²/2 all-pairs a fixed cluster count decays to
      assert(pairs <= n * n / 2 / 10, s"$dir: pair work not ≪ quadratic: $pairs")
    }
  }

  test("chunk dedup drops later occurrences, keeps first, reassembles in order") {
    val w20 = (1 to 20).map(i => s"w$i").mkString(" ")      // shared chunk
    val u20 = (1 to 20).map(i => s"u$i").mkString(" ")      // doc1-only chunk
    val v20 = (1 to 20).map(i => s"v$i").mkString(" ")      // doc2-only chunk
    val docs = Seq(
      (1L, s"$w20 $u20"),   // chunks: [w20, u20]
      (2L, s"$v20 $w20"),   // chunks: [v20, w20] — w20 already seen in doc 1
      (3L, w20)             // single chunk, fully duplicated
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.chunkDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L)._1 == 2 && got(1L)._2 == 2)
    assert(got(2L)._1 == 2 && got(2L)._2 == 1)   // w20 dropped
    assert(got(3L)._1 == 1 && got(3L)._2 == 0)   // everything dropped
    // reassembly is position-ordered: doc2 keeps only v20
    def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L)._3 == md5s(s"$w20 $u20"))
    assert(got(2L)._3 == md5s(v20))
    assert(got(3L)._3 == md5s(""))
  }

  test("chunk dedup catalog invariant: kept chunks = distinct chunks corpus-wide") {
    val d = SparkEntry.queries("d_dedup_paragraph")(spark, sfDir)
    val (nChunks, nKept) = {
      val r = d.agg(sum("n_chunks"), sum("n_kept")).head()
      (r.getLong(0), r.getLong(1))
    }
    // every surviving chunk is the unique first occurrence of its text
    val docs = Tables.load(spark, sfDir, "documents")
    val distinctChunks = docs
      .select(expr("filter(split(lower(text), ' '), x -> x <> '')").as("tk"))
      .select(explode(expr(
        "transform(sequence(0, cast(ceil(size(tk) / 20.0) as int) - 1), " +
        "i -> array_join(slice(tk, i * 20 + 1, 20), ' '))")).as("chunk"))
      .distinct().count()
    assert(nKept == distinctChunks, s"$nKept kept vs $distinctChunks distinct")
    assert(nKept <= nChunks)
  }

  test("native repetition pass equals the tagged-explode distributed reference") {
    import graft.functions.TextFunctions
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5))).toMap
    val native = key(TextFunctions.repetitionMetrics(docs))
    val exploded = key(TextFunctions.repetitionMetricsExploded(docs))
    assert(native == exploded,
      s"native and exploded diverge on ${native.size}/${exploded.size} docs")
  }

  test("repetition metrics: pure spam maxes out, varied text scores low") {
    val spam = Array.fill(30)("buy now").mkString(" ")        // one bigram repeated
    val varied = (1 to 60).map(i => s"tok$i").mkString(" ")   // all tokens distinct
    val got = graft.functions.TextFunctions.repetitionMetrics(
      Seq((1L, spam), (2L, varied)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val s = got(1L); val v = got(2L)
    assert(s.getDouble(2) == 0.5 && s.getBoolean(5),  // top word = 30/60
      s"spam row: $s")
    assert(s.getDouble(4) == 1.0)                     // every 5-gram duplicated
    assert(v.getDouble(2) < 0.2 && v.getDouble(4) == 0.0 && !v.getBoolean(5),
      s"varied row: $v")
  }

  test("pii redaction leaves no digits and counts every replacement") {
    val d = SparkEntry.queries("t_pii_redact")(spark, sfDir)
    val bad = d.where(col("scrubbed").rlike("[0-9]")).count()
    assert(bad == 0, s"$bad rows still contain digits")
    val zeroNum = d.where(col("n_num") === 0 && col("n_phone") === 0).count()
    assert(zeroNum == 0, "every props payload carries a numeric id")
  }

  test("sequence packing conserves tokens and numbers packs contiguously") {
    val d = SparkEntry.queries("t_pack_sequences")(spark, sfDir).cache()
    val total = d.agg(sum("n_tokens")).head().getLong(0)
    val fromDocs = Tables.load(spark, sfDir, "documents")
      .agg(sum(size(split(col("text"), " ")))).head().getLong(0)
    assert(total == fromDocs, s"packed $total tokens vs corpus $fromDocs")
    // pack ids are dense 0..max within each lang shard
    val gaps = d.groupBy("lang")
      .agg(min("pack_id").as("mn"), max("pack_id").as("mx"), count(lit(1)).as("n"))
      .where(col("mn") =!= 0 || col("mx") =!= col("n") - 1).count()
    assert(gaps == 0, "pack ids must be dense per shard")
    d.unpersist()
  }

  test("mixture sampling keeps floor(sqrt(n_s*n_min)) per stratum, min stratum whole") {
    val kept = SparkEntry.queries("t_mixture_sample")(spark, sfDir)
      .groupBy("lang").agg(count(lit(1)).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = Tables.load(spark, sfDir, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = counts.values.min
    for ((lang, n) <- counts) {
      val expect = math.floor(math.sqrt((n * nMin).toDouble)).toLong
      assert(kept(lang) == expect, s"$lang: kept ${kept(lang)} want $expect")
    }
    val minLang = counts.minBy(_._2)._1
    assert(kept(minLang) == counts(minLang), "the smallest stratum keeps everything")
  }

  test("retention matrix: offset-0 cell counts the whole cohort") {
    val d = SparkEntry.queries("q_events_retention")(spark, sfDir).cache()
    assert(d.where(col("week_offset") < 0).count() == 0)
    // every cohort member is active in their signup week (the signup
    // itself is an event at t >= t_signup), so offset 0 = cohort size
    val cohorts = d.where(col("week_offset") === 0)
      .select(col("cohort_wk"), col("n_users"))
    val later = d.where(col("week_offset") > 0)
      .groupBy("cohort_wk").agg(max("n_users").as("mx"))
    val violated = cohorts.join(later, "cohort_wk")
      .where(col("mx") > col("n_users")).count()
    assert(violated == 0, "no later week can exceed the cohort size")
    d.unpersist()
  }

  test("substring dedup: copies fully duplicated, partial overlap found at any offset") {
    val shared = (1 to 20).map(i => s"w$i").mkString(" ")     // 20 words
    val tail = (1 to 20).map(i => s"u$i").mkString(" ")       // 20 unique
    val docs = Seq(
      (1L, shared),                        // verbatim copy of doc 2
      (2L, shared),
      (3L, shared.split(" ").take(10).mkString(" ") + " " + tail),
      (4L, "entirely disjoint vocabulary with no repeated span at all whatsoever today"))
      .toDF("doc_id", "text")
    val got = Dedup.substringDupStats(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // exact copies: every rolling window duplicated → flagged
    assert(got(1L) == got(2L))
    assert(got(1L)._1 == got(1L)._2 && got(1L)._3,
      s"exact copies must have all windows duplicated: ${got(1L)}")
    // doc 3 shares only a 10-word PREFIX (one W=10 window) — chunk
    // dedup's aligned 20-token chunks would miss it, the rolling
    // window finds it; with 21 windows total it stays unflagged
    assert(got(3L)._2 == 1L && !got(3L)._3, s"partial overlap: ${got(3L)}")
    // fully unique doc: nothing duplicated
    assert(got(4L)._2 == 0L && !got(4L)._3, s"unique doc: ${got(4L)}")
    // corpus run: dup counts are bounded by window counts everywhere
    val d = SparkEntry.queries("d_dedup_substring")(spark, sfDir)
    assert(d.where(col("n_dup_windows") > col("n_windows")).count() == 0)
  }

  test("epoch upsampling: exact capped ceil-div repetition per stratum") {
    val counts = Tables.load(spark, sfDir, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val target = counts.values.max
    val expected = counts.map { case (l, n) =>
      l -> math.min(2L, (target + n - 1) / n) } // cap = 2
    val d = SparkEntry.queries("t_upsample_epochs")(spark, sfDir)
    val got = d.groupBy("lang")
      .agg(countDistinct(col("doc_id")).as("nd"),
        (max(col("epoch")) + 1).as("epochs"), count(lit(1)).as("rows"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    got.foreach { case (l, nd, epochs, rows) =>
      assert(nd == counts(l), s"$l keeps every document")
      assert(epochs == expected(l), s"$l epochs $epochs != ${expected(l)}")
      assert(rows == nd * epochs, s"$l repeats each doc exactly $epochs times")
    }
    assert(expected(got.maxBy(_._2)._1) == 1L, "the largest stratum is never repeated")
  }

  test("incremental search: delta compacted into a clustered run, serving equals one-shot") {
    val served = SparkEntry.queries("t_search_incremental")(spark, sfDir)
    val oneShot = SparkEntry.queries("t_inverted_search")(spark, sfDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val got = rows(served) // runs base + delta + compact, then serves
    assert(got == rows(oneShot),
      "incrementally maintained postings must serve identical results")
    // post-compaction layout: every dir in the head version is a
    // clustered run (no unclustered delta left to scan unpruned)
    val root = s"${Roots.scratch}/invidx/" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_") + "/postings_clustered"
    import graft.sources.Snapshots
    val dirs = Snapshots.versionDirs(root, Snapshots.currentVersion(root))
    assert(dirs.size == 2, s"one base run + one compacted delta run: $dirs")
    dirs.foreach(d => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(d, "_GRAFT_CLUSTERED")),
      s"$d must be a clustered run after compaction"))
  }

  test("phrase search: pruned positional postings, hits only on true adjacency") {
    val d = SparkEntry.queries("t_phrase_search")(spark, sfDir)
    val plan = physicalPlan(d)
    assert(plan.contains("postings_pos"),
      s"must scan the persisted positional postings:\n$plan")
    assert("""PartitionFilters: \[b#\d+ IN \(""".r.findFirstIn(plan).isDefined,
      s"the postings scan must prune to the phrase words' buckets:\n$plan")
    // every hit doc must contain the phrase as a literal substring
    // (raw-split adjacency => exactly one space between the words)
    val hits = d.collect().map(r => (r.getInt(0), r.getLong(1))).toList
    assert(hits.nonEmpty)
    val texts = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase).toMap
    val phrase = Map(1 -> "hash join", 2 -> "sort merge")
    hits.foreach { case (pid, doc) =>
      assert(texts(doc).contains(phrase(pid)),
        s"doc $doc flagged for '${phrase(pid)}' must contain it verbatim")
    }
    // and adjacency is REQUIRED: docs with both words but never the
    // phrase must not appear
    val hitDocs = hits.filter(_._1 == 1).map(_._2).toSet
    val bothWordsNoPhrase = texts.collect { case (id, t)
      if t.contains(" hash ") && t.contains(" join ") && !t.contains("hash join") => id }
    bothWordsNoPhrase.foreach(id =>
      assert(!hitDocs(id), s"doc $id has both words but never adjacent"))
  }

  test("inverted search serves from the pruned persisted postings and matches a full scan") {
    val dir = sfDir
    val served = SparkEntry.queries("t_inverted_search")(spark, dir)
    val plan = physicalPlan(served)
    assert(plan.contains("/invidx"),
      s"must scan the persisted postings table:\n$plan")
    assert("""PartitionFilters: \[b#\d+ IN \(""".r.findFirstIn(plan).isDefined,
      s"the postings scan must prune to the query terms' buckets:\n$plan")
    // the top-10 rank window over the hot query_id key must carry a
    // PARTIAL WindowGroupLimit below the exchange: each map task ships
    // only its local top-10, never the full match set
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"expected partial window group limit in:\n$plan")
    // full-scan reference computed directly from raw text in Spark
    val tf = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .where(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val q = Seq((1, "scan"), (1, "merge"), (2, "stream"), (2, "value"),
      (3, "hash"), (3, "join")).toDF("query_id", "term")
    val hits = tf.join(q, "term").groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("nt"), sum("tf").as("score"))
      .where(col("nt") === 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    val full = hits.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 10).select("query_id", "doc_id", "score", "rk")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(rows(served) == rows(full),
      "serving the persisted index must equal the full-corpus scan")
  }

  test("RAG chunks tile every document: stride starts, full-width bodies, exact tail") {
    val dir = sfDir
    val chunks = SparkEntry.queries("t_chunk_rag")(spark, dir)
      .select("doc_id", "chunk_id", "start", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val dls = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(filter(split(lower(col("text")), " "), t => t =!= "")).cast("long").as("dl"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(chunks.nonEmpty)
    chunks.foreach { case (doc, cid, start, n) =>
      val dl = dls(doc)
      assert(start == 1 + cid * 48, s"doc $doc chunk $cid: start $start off-stride")
      assert(n == math.min(64L, dl - start + 1),
        s"doc $doc chunk $cid: n_tokens $n, dl $dl, start $start")
    }
    // every doc with tokens is fully covered: its last chunk ends at dl
    val lastEnd = chunks.groupBy(_._1).map { case (d, cs) =>
      d -> cs.map(c => c._3 + c._4 - 1).max }
    dls.filter(_._2 > 0).foreach { case (d, dl) =>
      assert(lastEnd(d) == dl, s"doc $d: coverage ends at ${lastEnd(d)} of $dl")
    }
  }

  test("hard negatives all carry a different label and rank by true cosine order") {
    val dir = sfDir
    val got = SparkEntry.queries("s_hard_negatives")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4), r.getLong(5)))
    assert(got.length == 25) // 5 anchors × top-5
    got.foreach { case (_, ql, _, nl, _, _) => assert(ql != nl) }
    got.groupBy(_._1).values.foreach { rs =>
      val byRank = rs.sortBy(_._6).map(_._5)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        "similarity must be non-increasing in rank")
    }
  }

  test("BM25 ranks only docs containing a query term, scores positive, idf favors rarer terms") {
    val dir = sfDir
    val got = SparkEntry.queries("t_search_bm25")(spark, dir)
    val withTerm = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .join(Seq("scan", "merge", "stream", "value", "hash", "join").toDF("term"), "term")
      .select("doc_id").distinct()
    assert(got.join(withTerm, "doc_id").count() == got.count(),
      "every ranked doc must contain at least one query term")
    assert(got.where(col("score") <= 0).count() == 0)
  }

  test("hybrid RRF scores decompose into valid rank contributions") {
    val dir = sfDir
    val contrib = (1 to 10).map(r => 1000000000L / (60 + r))
    val valid = (contrib.map(c => (c, 1L)) ++
      (for (a <- contrib; b <- contrib) yield (a + b, 2L))).toSet
    val got = SparkEntry.queries("s_hybrid_rrf")(spark, dir).collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    got.foreach { case (rrf, nl) =>
      assert(valid.contains((rrf, nl)), s"rrf $rrf with $nl lists is not a sum of rank contributions")
    }
  }

  test("semantic dedup: kept set has no within-cluster pair at or above the threshold") {
    val dir = sfDir
    val res = SparkEntry.queries("d_dedup_semantic")(spark, dir)
    val kept = res.where(col("keep")).select("vec_id", "cid")
    val v = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        graft.operators.Similarity.quantize(col("embedding")).as("q"))
      .withColumn("nrm", graft.operators.Similarity.dotL(col("q"), col("q")))
    val pairs = kept.join(v, "vec_id").toDF("a_id", "cid", "a_q", "a_nrm")
      .join(kept.join(v, "vec_id").toDF("b_id", "cid", "b_q", "b_nrm"), Seq("cid"))
      .where(col("a_id") < col("b_id"))
      .where(graft.operators.Similarity.cosine(
        graft.operators.Similarity.dotL(col("a_q"), col("b_q")),
        col("a_nrm"), col("b_nrm")) >= 0.95)
    assert(pairs.count() == 0, "two kept cluster-mates are semantic duplicates")
    // the min-id member of every cluster is never dominated
    val minIds = res.groupBy("cid").agg(min("vec_id").as("vec_id"))
    assert(res.join(minIds, Seq("cid", "vec_id")).where(!col("keep")).count() == 0)
  }

  test("incremental semantic dedup over two batches ≡ frozen-quantizer one-shot") {
    import graft.operators.Similarity
    import graft.sources.Snapshots
    val root = s"${Roots.scratch}/pipeline-spec/semdedup_multi"
    Snapshots.deleteRecursively(root)
    val (centsT, memT) = (s"$root/cents", s"$root/members")
    // corpus = real embeddings + one EXACT clone planted in batch 2
    // (vec_id 450 := vector of base id 60) so the dup path is exercised
    val e0 = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val e = e0.where(col("vec_id") =!= 450)
      .unionByName(e0.where(col("vec_id") === 60)
        .select(lit(450L).as("vec_id"), col("embedding")))
    val base = e.where(col("vec_id") < 300)
    // bootstrap: frozen quantizer + base members
    val (cents, _) = Similarity.ivfBuild(base, Similarity.cCountOf(base.count()), 1)
    Snapshots.commitOverwrite(cents, centsT)
    Snapshots.commitOverwrite(
      Similarity.ivfAssign(Similarity.quantizedOf(base), cents).drop("m"), memT)
    def runBatch(lo: Long, hi: Long, batchId: Long): Map[Long, Boolean] = {
      val b = e.where(col("vec_id") >= lo && col("vec_id") < hi)
      val aB = Similarity.ivfAssign(
        Similarity.quantizedOf(b), Snapshots.read(spark, centsT))
        .drop("m").localCheckpoint()
      val priorV = Snapshots.currentVersion(memT)
      Snapshots.ingestBatch(aB, memT, "spec_semdedup_multi", batchId)
      val all = Snapshots.readVersion(spark, memT, priorV).unionByName(aB)
      val dup = aB.toDF("b_id", "b_q", "b_nrm", "cid")
        .join(all.toDF("a_id", "a_q", "a_nrm", "cid"), Seq("cid"))
        .where(col("a_id") < col("b_id"))
        .where(Similarity.cosine(Similarity.dotL(col("a_q"), col("b_q")),
          col("a_nrm"), col("b_nrm")) >= 0.95)
        .select(col("b_id")).distinct()
        .collect().map(_.getLong(0)).toSet
      aB.select("vec_id").collect()
        .map(r => r.getLong(0) -> !dup.contains(r.getLong(0))).toMap
    }
    val got = runBatch(300, 400, 1L) ++ runBatch(400, 500, 2L)
    // frozen-quantizer one-shot over the full 500: same centroids,
    // dup iff ANY lower-id cluster-mate is cos-similar
    val aAll = Similarity.ivfAssign(
      Similarity.quantizedOf(e.where(col("vec_id") < 500)),
      Snapshots.read(spark, centsT)).drop("m").localCheckpoint()
    val dupAll = aAll.toDF("b_id", "b_q", "b_nrm", "cid")
      .join(aAll.toDF("a_id", "a_q", "a_nrm", "cid"), Seq("cid"))
      .where(col("a_id") < col("b_id"))
      .where(Similarity.cosine(Similarity.dotL(col("a_q"), col("b_q")),
        col("a_nrm"), col("b_nrm")) >= 0.95)
      .select(col("b_id")).distinct().collect().map(_.getLong(0)).toSet
    val want = aAll.select("vec_id").where(col("vec_id") >= 300).collect()
      .map(r => r.getLong(0) -> !dupAll.contains(r.getLong(0))).toMap
    assert(got == want,
      s"incremental diverged from one-shot on ${got.toSet.diff(want.toSet)}")
    assert(got.values.exists(!_), "test corpus should contain at least one semantic dup")
  }

  test("hashing-trick classifier is a pure map: zero shuffles in the plan") {
    val df = SparkEntry.queries("t_quality_classifier")(spark, sfDir)
    val plan = physicalPlan(df)
    assert(!plan.contains("Exchange"),
      s"classifier must not shuffle — the whole score is per-row:\n$plan")
    // sanity: scores are the per-token weight sums they claim to be
    val r = df.orderBy("doc_id").head()
    assert(r.getLong(1) > 0 && math.abs(r.getLong(2)) <= r.getLong(1) * 1001)
  }

  test("source caps: per-domain output is bounded by ceil(sqrt(n_docs))") {
    val kept = SparkEntry.queries("t_source_caps")(spark, sfDir)
    val perSrc = kept.groupBy("source")
      .agg(count(lit(1)).as("n_kept"), max("cap_k").as("cap_k"))
    val truth = Tables.load(spark, sfDir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val joined = perSrc.join(truth, "source").collect()
    assert(joined.nonEmpty)
    joined.foreach { row =>
      val (nKept, capK, nDocs) = (row.getLong(1), row.getLong(2), row.getLong(3))
      assert(capK == math.ceil(math.sqrt(nDocs.toDouble)).toLong)
      assert(nKept == math.min(nDocs, capK),
        s"${row.getString(0)}: kept $nKept of $nDocs with cap $capK")
    }
    // kept docs are the LONGEST of their domain: every kept rank is
    // contiguous from 1 (no gaps — the filter is on rank, not score)
    val ranks = kept.groupBy("source")
      .agg(count(lit(1)).as("n"), max("rk").as("maxrk")).collect()
    ranks.foreach(r => assert(r.getLong(1) == r.getLong(2)))
  }

  test("boilerplate removal: block accounting and all-kept fingerprint invariants") {
    val res = SparkEntry.queries("t_boilerplate")(spark, sfDir).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val (nBlocks, nKept, nTokKept) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nKept <= nBlocks && nTokKept <= nBlocks * 10)
      assert(nKept > 0 || r.getString(4) ==
        java.security.MessageDigest.getInstance("MD5").digest("".getBytes)
          .map("%02x".format(_)).mkString)
    }
    // a doc whose every block survives must fingerprint to its own
    // normalized text (reassembly preserves order and spacing)
    val allKept = SparkEntry.queries("t_boilerplate")(spark, sfDir)
      .where(col("n_kept") === col("n_blocks")).select("doc_id", "clean_fp")
    val direct = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        md5(concat_ws(" ",
          filter(split(lower(col("text")), " "), t => t =!= ""))).as("fp"))
    val mismatch = allKept.join(direct, "doc_id")
      .where(col("clean_fp") =!= col("fp")).count()
    assert(mismatch == 0, "all-kept reassembly must equal the normalized text")
  }

  test("MMR rerank: round 1 is the relevance argmax; selection diversifies vs plain top-5") {
    val sel = SparkEntry.queries("s_mmr_rerank")(spark, sfDir)
    val rows = sel.collect()
    assert(rows.length == 15, s"3 queries x 5 rounds, got ${rows.length}")
    // per query: 5 distinct picks, rounds 1..5
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 3)
    byQ.foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).distinct.length == 5)
      assert(rs.map(_.getLong(2)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    }
    // round-1 pick per query = the global relevance argmax (bruteforce rank 1)
    val bf = SparkEntry.queries("s_knn_bruteforce")(spark, sfDir)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("n_id"))))
      .where(col("rn") === 1 && col("q_id") < 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byQ.foreach { case (q, rs) =>
      val r1 = rs.find(_.getLong(2) == 1L).get.getLong(1)
      assert(bf(q) == r1, s"round-1 pick for query $q must be the relevance top-1")
    }
    // diversity: the MMR set's mean pairwise cosine must not exceed the
    // plain top-5 relevance set's (equality possible if top-5 is already
    // diverse enough that MMR picks the same set)
    val e = Tables.load(spark, sfDir, "embeddings")
    val v = Similarity.quantizedOf(e)
    def meanPairSim(sets: Map[Long, Seq[Long]]): Double = {
      val pairs = sets.toSeq.flatMap { case (q, ids) =>
        for (a <- ids; b <- ids if a < b) yield (q, a, b)
      }.toDF("q", "a", "b")
      pairs
        .join(v.toDF("a", "aq", "an"), "a")
        .join(v.toDF("b", "bq", "bn"), "b")
        .select(Similarity.cosine(Similarity.dotL(col("aq"), col("bq")),
          col("an"), col("bn")).as("s"))
        .agg(avg("s")).head().getDouble(0)
    }
    val mmrSets = byQ.map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }
    val top5Sets = SparkEntry.queries("s_knn_bruteforce")(spark, sfDir)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("n_id"))))
      .where(col("rn") <= 5 && col("q_id") < 3)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }
    val (mmrSim, topSim) = (meanPairSim(mmrSets), meanPairSim(top5Sets))
    assert(mmrSim <= topSim + 1e-12,
      s"MMR mean pairwise sim $mmrSim must be <= plain top-5's $topSim")
  }

  test("scale law: LPA community rounds move bounded-degree label frames, linear in N") {
    // the per-round shuffle of s_graph_communities is the symmetrized
    // kNN edge list joined to one (node, label) row each — with
    // bounded out-degree K the edge frame is <= 2*N*K rows, so a 10x
    // corpus must show ~10x per-round work, never a quadratic blowup
    def edges(dir: String): (Double, Double) = {
      val g = Similarity.knnGraphTable(spark, dir)
      val n = Tables.load(spark, dir, "embeddings").count().toDouble
      val e = g.select(org.apache.spark.sql.functions.col("g_src").as("src"),
          org.apache.spark.sql.functions.col("g_dst").as("dst"))
        .unionAll(g.select(org.apache.spark.sql.functions.col("g_dst").as("src"),
          org.apache.spark.sql.functions.col("g_src").as("dst")))
        .where(org.apache.spark.sql.functions.col("src") =!=
          org.apache.spark.sql.functions.col("dst"))
        .distinct().count().toDouble
      (n, e)
    }
    val ((n1, e1), (n2, e2)) = (edges(sfSmall), edges(sfBig))
    val k = 10.0 // GraphK bound
    assert(e1 <= 2 * n1 * k && e2 <= 2 * n2 * k,
      s"edge frames exceed the 2NK bound: $e1 of ${2 * n1 * k}, $e2 of ${2 * n2 * k}")
    assert(e2 <= 2.0 * (n2 / n1) * e1,
      s"per-round LPA work superlinear: N $n1->$n2, edges $e1->$e2")
  }

  test("SQ8 codes stay in [0,255] and code-space serving recalls most of the exact top-10") {
    val rows = SparkEntry.queries("s_knn_sq")(spark, sfDir).collect()
    assert(rows.length == 50, "5 queries x top-10")
    rows.foreach { r =>
      assert(r.getLong(2) >= 0L, "squared distance is non-negative")
      assert(r.getLong(3) >= 1L && r.getLong(3) <= 10L)
    }
    // 64 dims x max per-dim code delta 255 bounds the distance
    assert(rows.forall(_.getLong(2) <= 64L * 255 * 255), "sqdist exceeds code-space bound")
    val rec = SparkEntry.queries("s_knn_sq_recall")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rec.size == 5)
    // 8-bit affine codes preserve neighborhoods: expect >= 60% recall
    // on every query at test SFs (measured: 700-1000 across all three)
    rec.foreach { case (q, rx1000) =>
      assert(rx1000 >= 600L, s"query $q SQ8 recall ${rx1000 / 10.0}% below 60%")
    }
  }

  test("BQ hamming shortlist + exact rescoring overlaps the exact top-10 and orders by true sim") {
    val byQ = SparkEntry.queries("s_knn_bq")(spark, sfDir)
      .collect().groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 10, s"query $q must serve 10")
      rs.foreach { r =>
        assert(r.getLong(2) >= 0L && r.getLong(2) <= 64L, "hamming in [0,64]")
      }
      // ranks follow the EXACT similarity (rescoring output), not hamming
      val ordered = rs.sortBy(_.getLong(4))
      assert(ordered.map(_.getDouble(3)).sliding(2).forall(p => p(0) >= p(1) - 1e-12),
        s"query $q rerank not ordered by exact sim")
    }
    // shortlist-then-rescore must recover a majority of the exact top-10
    val bf = SparkEntry.queries("s_knn_bruteforce")(spark, sfDir)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("n_id"))))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    byQ.foreach { case (q, rs) =>
      val hits = rs.map(_.getLong(1)).toSet.intersect(bf(q)).size
      assert(hits >= 5, s"query $q BQ+rerank recovered only $hits of exact top-10")
    }
  }

  test("IVF+SQ serving recovers the plain-IVF top-5 through the code-space shortlist") {
    val sq = SparkEntry.queries("s_knn_ivf_sq")(spark, sfDir)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val ivf = SparkEntry.queries("s_knn_ivf")(spark, sfDir)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    assert(sq.keySet == ivf.keySet)
    // same probed candidate set; the SQ shortlist (40 >> 5) should
    // recover most of the exact-rerank top-5 (measured: >= 4 of 5)
    sq.foreach { case (q, ids) =>
      val hits = ids.intersect(ivf(q)).size
      assert(hits >= 3, s"query $q IVF+SQ recovered only $hits of the IVF top-5")
    }
  }

  test("a served build-once table resolves in its committed schema and starts no job") {
    import graft.functions.{StatsQueries, TextFunctions}
    // the non-partitioned tables: a partitioned layout records no
    // schema line, so its read still infers (SourcesSpec)
    val served: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "kNN bands" -> (() => Similarity.knnBandsTable(spark, sfDir)),
      "kNN graph" -> (() => Similarity.knnGraphTable(spark, sfDir)),
      "near-dup pairs" -> (() => Dedup.nearDupPairsTable(spark, sfDir)),
      "IVF centroids" -> (() => Similarity.ivfCentroids(spark, sfDir)),
      "IVF+PQ centroids" -> (() => Similarity.ivfPqQuantizers(spark, sfDir)._1),
      "IVF+PQ codebooks" -> (() => Similarity.ivfPqQuantizers(spark, sfDir)._2),
      "PQ codebooks" -> (() => Similarity.pqServedIndex(spark, sfDir)._1),
      "PQ codes" -> (() => Similarity.pqServedIndex(spark, sfDir)._2),
      "BM25 doclen" -> (() => TextFunctions.bm25Doclen(spark, sfDir)),
      "checksum parts" -> (() => StatsQueries.checksumParts(spark, sfDir)))
    served.foreach { case (what, serve) =>
      serve() // builds the table on a cold root
      var df: org.apache.spark.sql.DataFrame = null
      val jobs = jobsDuring { df = serve() }
      assert(jobs == 0, s"$what: resolving the served frame ran $jobs jobs")
      // the committed schema is the one inference reads off the footers
      val inferred = spark.read.parquet(df.inputFiles: _*).schema
      assert(df.schema == inferred, s"$what: served ${df.schema}, inferred $inferred")
    }
  }
}
