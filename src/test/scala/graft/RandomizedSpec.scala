package graft

import org.apache.spark.sql.functions._
import scala.util.Random

/** Randomized equivalence checks: every distributed formulation must
  * agree with a brute-force reference implementation on many random
  * inputs (fixed seeds — failures reproduce). These catch the edge
  * cases hand-picked fixtures miss: empty sides, ties, duplicate
  * keys, single-element groups, disconnected graphs.
  */
class RandomizedSpec extends SparkSpec {
  import spark.implicits._

  test("as-of join equals the brute-force prior-or-equal scan on random data") {
    import graft.operators.AsOfJoin
    val rnd = new Random(42)
    for (round <- 1 to 8) {
      val nk = 1 + rnd.nextInt(4)
      val left = Seq.fill(3 + rnd.nextInt(20))(
        (rnd.nextInt(nk).toLong, rnd.nextInt(50).toLong, rnd.nextInt(100).toLong))
      val right = Seq.fill(rnd.nextInt(20))(
        (rnd.nextInt(nk).toLong, rnd.nextInt(50).toLong))
      val l = left.toDF("k", "t", "payload")
      val r = right.toDF("k", "t")
      val got = AsOfJoin.asOf(l, r, "k", "t")
        .collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)) ->
          (if (x.isNullAt(3)) None else Some(x.getLong(3))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toList.sorted).toMap
      val expected = left
        .map { case (k, t, p) =>
          val prior = right.filter(x => x._1 == k && x._2 <= t).map(_._2)
          (k, t, p) -> (if (prior.isEmpty) None else Some(prior.max))
        }
        .groupBy(_._1).view.mapValues(_.map(_._2).toList.sorted).toMap
      assert(got == expected, s"round $round: $got vs $expected")
    }
  }

  test("connected components (both paths) equal transitive closure on random graphs") {
    import graft.operators.Dedup
    val rnd = new Random(7)
    for (round <- 1 to 6) {
      val n = 2 + rnd.nextInt(12)
      val vs = (0L until n).toList
      val pairs = Seq.fill(rnd.nextInt(n))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(p => p._1 != p._2)
      val edges = pairs.toDF("a", "b")
        .select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.toDF("a", "b").select(col("b").as("src"), col("a").as("dst")))
      // brute-force: iterate min-label to fixpoint on the driver
      val labels = scala.collection.mutable.Map(vs.map(v => v -> v): _*)
      var changed = true
      while (changed) {
        changed = false
        for ((a, b) <- pairs) {
          val m = math.min(labels(a), labels(b))
          if (labels(a) != m) { labels(a) = m; changed = true }
          if (labels(b) != m) { labels(b) = m; changed = true }
        }
      }
      val expected = labels.toMap
      for (threshold <- Seq(100000L, 0L)) {
        val got = Dedup.connectedComponents(vs.toDF("v"), edges,
            localThreshold = threshold)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected,
          s"round $round threshold $threshold: $got vs $expected (pairs $pairs)")
      }
    }
  }

  test("exact k-core fixpoint peel equals the brute driver fixpoint on random graphs") {
    import graft.operators.Similarity
    val rnd = new Random(1315)
    for (round <- 1 to 6; k <- Seq(2, 3)) {
      val n = 3 + rnd.nextInt(14)
      val pairs = Seq.fill(rnd.nextInt(3 * n))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
      // brute fixpoint on the driver: repeatedly drop vertices of
      // degree < k from the undirected edge set until nothing changes
      var brute = pairs
      var changed = true
      while (changed) {
        val deg = brute.flatMap(p => Seq(p._1, p._2))
          .groupBy(identity).view.mapValues(_.size).toMap
        val next = brute.filter(p => deg(p._1) >= k && deg(p._2) >= k)
        changed = next.size != brute.size
        brute = next
      }
      val expected = brute.flatMap(p => Seq(p, p.swap)).toSet
      val edges = pairs.toDF("a", "b")
        .select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.toDF("a", "b").select(col("b").as("src"), col("a").as("dst")))
        .distinct()
      val got = Similarity.kCoreExact(edges, k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"round $round k=$k: $got vs $expected (pairs $pairs)")
    }
  }

  test("graph band-width law: 8 bits at every catalog sf, log-growth above, and a wider build equals brute") {
    import graft.operators.Similarity
    // every catalog corpus stays on the oracle-unrolled 8-bit space
    for (n <- Seq(0L, 50L, 500L, 5000L, 16384L))
      assert(Similarity.graphBitsFor(n) == 8, s"n=$n")
    // log growth above the floor, capped at the 64-bit plane budget
    assert(Similarity.graphBitsFor(50000L) == 10)
    assert(Similarity.graphBitsFor(1000000L) == 14)
    assert(Similarity.graphBitsFor(Long.MaxValue) == 20)
    // end-to-end: a 9-bit build equals a brute 9-bit banded top-K
    val e = Tables.load(spark, sfDir, "embeddings").limit(200).localCheckpoint()
    val got = Similarity.buildGraph(e, 9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = e.collect().map { r =>
      val q = r.getAs[scala.collection.Seq[Float]]("embedding")
        .map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray
      r.getAs[Long]("vec_id") -> q
    }.toMap
    def buckets(q: Array[Long], bits: Int): Seq[(Int, Long)] = {
      val sign = graft.functions.PlaneSignBitsUtil.compute(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(q.map(x => x: Any)),
        3 * bits)
      (0 until 3).map(b => b -> ((sign >>> (b * bits)) & ((1L << bits) - 1)))
    }
    val banded = vecs.toSeq.flatMap { case (id, q) =>
      buckets(q, 9).map { case (b, bk) => ((b, bk), id) }
    }
    val cand = banded.groupBy(_._1).values.flatMap { g =>
      for (a <- g.map(_._2); b <- g.map(_._2); if a != b) yield (a, b)
    }.toSet
    def cosine(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map(p => p._1 * p._2).sum.toDouble
      val (na, nb) = (a.map(x => x * x).sum.toDouble, b.map(x => x * x).sum.toDouble)
      dot / math.sqrt(na * nb)
    }
    val expected = cand.groupBy(_._1).toSeq.flatMap { case (a, ps) =>
      ps.toSeq.map { case (_, b) => (b, cosine(vecs(a), vecs(b))) }
        .sortBy { case (b, sim) => (-sim, b) }.take(3)
        .map { case (b, _) => (a, b) }
    }.toSet
    assert(got == expected,
      s"9-bit build diverged: extra=${got -- expected} missing=${expected -- got}")
  }

  test("bucketed band join equals the brute-force theta count on random data") {
    import graft.operators.RangeJoin
    val rnd = new Random(99)
    for (round <- 1 to 6) {
      val left = Seq.tabulate(2 + rnd.nextInt(15))(i =>
        (i.toLong, rnd.nextInt(100).toDouble))
      val right = Seq.fill(rnd.nextInt(25))(rnd.nextInt(100).toDouble)
      val l = left.toDF("id", "v")
      val r = right.toDF("rv")
      val got = RangeJoin.countGreater(l, "id", "v", r, "rv", nBuckets = 4)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      val expected = left
        .map { case (id, v) => id -> right.count(_ > v).toLong }
        .filter(_._2 > 0).toMap
      assert(got == expected, s"round $round: $got vs $expected ($left vs $right)")
    }
  }

  test("native sorted-intersect equals set intersection on random sorted arrays") {
    val rnd = new Random(5)
    val cases = Seq.fill(40) {
      val a = Seq.fill(rnd.nextInt(12))(rnd.nextInt(20).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(12))(rnd.nextInt(20).toLong).distinct.sorted
      (a, b)
    }
    val got = cases.toDF("a", "b")
      .select(graft.functions.Native.sortedIntersectSize(col("a"), col("b")))
      .collect().map(_.getLong(0).toInt)
    val expected = cases.map { case (a, b) => a.toSet.intersect(b.toSet).size }
    assert(got.toSeq == expected, s"${got.toSeq} vs $expected")
  }

  test("dedup pipeline survives degenerate texts: empty, one word, whitespace") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, ""), (2L, "word"), (3L, "   "), (4L, "two words"),
      (5L, "the quick brown fox jumps over the lazy dog"),
      (6L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val sg = Dedup.signed(docs)
    // every doc gets a signature row; sub-n-gram docs get empty shingles
    assert(sg.count() == 6)
    val shingleSizes = sg.select(col("doc_id"), size(col("shingles")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // documented short-text behavior: < n tokens hash as ONE shingle
    // of the full token list; zero tokens yield zero shingles
    assert(shingleSizes(1L) == 0 && shingleSizes(3L) == 0)
    assert(shingleSizes(2L) == 1 && shingleSizes(4L) == 1)
    assert(shingleSizes(5L) > 0)
    val near = Dedup.verifiedJaccard(Dedup.minhashCandidates(sg), sg)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    println("NEAR PAIRS: " + near)
    assert(near.filter(_._2 >= 0.5).keySet == Set((5L, 6L)), near.toString)
  }

  test("chunk dedup equals a brute-force single-threaded reference on random corpora") {
    import graft.operators.Dedup
    val rnd = new Random(13)
    val vocab = Vector("a", "b", "c", "d")
    for (round <- 1 to 6) {
      val cw = 1 + rnd.nextInt(3) // chunk width 1..3
      val docs = (0L until (2 + rnd.nextInt(8))).map { id =>
        // tiny vocabulary + short docs → plenty of chunk collisions
        id -> Seq.fill(1 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val got = Dedup.chunkDedup(docs.toDF("doc_id", "text"), cw)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      // reference: global first-occurrence scan in (doc_id, idx) order
      val seen = scala.collection.mutable.Set.empty[String]
      val expect = docs.map { case (id, text) =>
        val chunks = text.split(" ").filter(_.nonEmpty).grouped(cw).map(_.mkString(" ")).toList
        val kept = chunks.filter(c => seen.add(c))
        def md5s(x: String) = java.security.MessageDigest.getInstance("MD5")
          .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
        id -> (chunks.size.toLong, kept.size.toLong, md5s(kept.mkString(" ")))
      }.toMap
      assert(got == expect, s"round $round (cw=$cw): $got vs $expect")
    }
  }

  test("exact AUC equals brute-force pair concordance on random tied data") {
    import graft.functions.TextFunctions
    val rnd = new Random(77)
    for (round <- 1 to 8) {
      // few distinct scores => heavy ties, the case rank formulas get wrong
      val nScores = 1 + rnd.nextInt(6)
      val rows = Seq.fill(20 + rnd.nextInt(60))(
        (rnd.nextInt(2).toLong, (rnd.nextInt(nScores) - nScores / 2).toLong))
      val (pos, neg) = (rows.filter(_._1 == 1L), rows.filter(_._1 == 0L))
      if (pos.nonEmpty && neg.nonEmpty) {
        val r = TextFunctions.aucOf(rows.toDF("pos", "score")).head()
        val conc = (for (a <- pos; b <- neg)
          yield if (a._2 > b._2) 2L else if (a._2 == b._2) 1L else 0L).sum
        val expected = conc * 500L / (pos.length.toLong * neg.length)
        assert(r.getLong(3) == expected, s"round $round: ${r.getLong(3)} vs $expected")
        assert(r.getLong(4) == conc * 1000L / (pos.length.toLong * neg.length) - 1000L)
      }
    }
    // perfect separation scores 1000; perfect inversion scores 0
    val perfect = Seq((1L, 10L), (1L, 9L), (0L, 2L), (0L, 1L))
    assert(TextFunctions.aucOf(perfect.toDF("pos", "score")).head().getLong(3) == 1000L)
    val inverted = perfect.map { case (p, s) => (1L - p, s) }
    assert(TextFunctions.aucOf(inverted.toDF("pos", "score")).head().getLong(3) == 0L)
  }

  test("Holt smoother matches a sequential fold on random series incl. falling trends") {
    import graft.operators.Events
    val rnd = new Random(55)
    for (round <- 1 to 8) {
      // half the rounds force a strongly DECREASING series so the
      // negative-trend integral-DIV path is exercised (Spark `div`
      // truncates toward zero; DuckDB `//` verified identical)
      val falling = round % 2 == 0
      val n = 3 + rnd.nextInt(20)
      val series = (0 until n).map { i =>
        val base = if (falling) 2000L - 90L * i else 50L + rnd.nextInt(100)
        (i.toLong, math.max(1L, base + rnd.nextInt(21) - 10))
      }
      val df = series.toDF("day", "y").withColumn("key", lit("k"))
      val r = Events.holtOf(df, "key").head()
      val ys = series.map(_._2)
      var l = ys(0) * 1000L
      var t = (ys(1) - ys(0)) * 1000L
      for (y <- ys.drop(2)) {
        val ln = (y * 1000L + l + t) / 2
        t = ((ln - l) + t) / 2
        l = ln
      }
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
        ((n.toLong, l, t, l + t)), s"round $round falling=$falling")
      if (falling) assert(r.getLong(3) < 0, "falling series must yield a negative trend")
    }
  }

  test("exact-decimal sums are partitioning-invariant on random money values") {
    import graft.functions.Portable
    val rnd = new Random(31)
    val values = Seq.fill(500)((rnd.nextInt(2000000) - 1000000) / 100.0)
    val reference = values.toDF("v").coalesce(1)
      .agg(Portable.dsum(col("v"))).head().getDouble(0)
    for (parts <- Seq(2, 7, 32)) {
      val got = values.toDF("v").repartition(parts)
        .agg(Portable.dsum(col("v"))).head().getDouble(0)
      assert(got == reference,
        s"decimal sum changed under $parts partitions: $got vs $reference")
    }
  }

  // ---- round-15 optimization equivalences ----

  test("native h60 equals the conv(substr(md5)) SQL chain on random strings") {
    val rnd = new Random(1501)
    val strs = Seq.fill(200)(
      new Random(rnd.nextLong()).alphanumeric.take(rnd.nextInt(40)).mkString) ++
      Seq("", " ", "a b  c", "naïve ünïcode £€", "x" * 500)
    val df = strs.toDF("s")
    val got = df.select(graft.functions.Native.h60(col("s")).as("h"))
      .collect().map(_.getLong(0)).toSeq
    val want = df.select(
        expr("cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint)").as("h"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == want)
  }

  test("positional word-n-gram hashes equal the transform/slice/md5 HOF form") {
    val rnd = new Random(1502)
    def word(): String = Seq.fill(1 + rnd.nextInt(6))(
      ('a' + rnd.nextInt(26)).toChar).mkString
    val texts = Seq.fill(80)(Seq.fill(rnd.nextInt(8))(word()).mkString(" ")) ++
      Seq("", "one", "one two", "one two three", "  padded   spaces  ",
        "a b c d e f g h")
    for (n <- Seq(2, 3, 4)) {
      val df = texts.toDF("text")
        .select(col("text"),
          expr("filter(split(lower(text), ' '), x -> x <> '')").as("tk"))
      val got = df.select(
          graft.functions.Native.wordNGramPosHashes(lower(col("text")), n).as("g"))
        .collect().map(_.getSeq[Long](0).toList).toList
      val want = df.select(expr(
          s"""if(size(tk) >= $n,
              transform(sequence(1, size(tk) - ${n - 1}),
                gp -> cast(conv(substr(md5(array_join(slice(tk, gp, $n), ' ')), 1, 15), 16, 10) as bigint)),
              cast(array() as array<bigint>))""").as("g"))
        .collect().map(_.getSeq[Long](0).toList).toList
      assert(got == want, s"n=$n")
    }
  }

  test("netted changesBetween equals exceptAll multiset subtraction on random DML") {
    import graft.sources.Snapshots
    val rnd = new Random(1503)
    val root = graft.Roots.scratch + "/randspec_cdc"
    for (round <- 1 to 4) {
      val t = s"$root/t$round"
      Snapshots.deleteRecursively(t)
      val base = Seq.fill(30 + rnd.nextInt(40))(
        (rnd.nextInt(10).toLong, rnd.nextInt(5).toLong)).toDF("k", "v")
      val v1 = Snapshots.commitOverwrite(base, t)
      // random rewrite: delete a slice, append duplicates-heavy rows
      Snapshots.deleteWhere(spark, t, col("k") % (2 + rnd.nextInt(3)) === 0)
      Snapshots.commitAppend(Seq.fill(10 + rnd.nextInt(20))(
        (rnd.nextInt(10).toLong, rnd.nextInt(5).toLong)).toDF("k", "v"), t)
      val v2 = Snapshots.currentVersion(t)
      val (ins, del) = Snapshots.changesBetween(spark, t, v1, v2)
      def multiset(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      val before = Snapshots.readVersion(spark, t, v1)
      val after = Snapshots.readVersion(spark, t, v2)
      assert(multiset(ins) == multiset(after.exceptAll(before)), s"ins round $round")
      assert(multiset(del) == multiset(before.exceptAll(after)), s"del round $round")
    }
  }

  test("sidecar change feed equals exceptAll across every DML form on random histories") {
    // r16: DML commits record their own row delta (CDC sidecar), and
    // changesBetween assembles multi-step feeds from the sidecars in
    // O(changed rows). Equivalence contract: for ANY random history of
    // appends / predicate and point deletes / updates / keyed
    // merges / keyed deletes, the feed between any two surviving
    // versions equals exceptAll of the endpoint snapshots — the same
    // ground truth the manifest-diff fallback satisfies.
    import graft.sources.Snapshots
    val rnd = new Random(1604)
    val root = graft.Roots.scratch + "/randspec_cdc_sidecar"
    for (round <- 1 to 4) {
      val t = s"$root/t$round"
      Snapshots.deleteRecursively(t)
      def rows(n: Int) = Seq.fill(n)(
        (rnd.nextInt(12).toLong, rnd.nextInt(6).toLong)).toDF("k", "v")
      val v1 =
        if (round % 2 == 0) Snapshots.commitOverwrite(rows(60), t)
        else Snapshots.commitClustered(rows(60), t, Seq("k"), files = 3)
      val checkFrom = scala.collection.mutable.ArrayBuffer(v1)
      def step(i: Int): Unit = (i % 6) match {
        case 0 => Snapshots.commitAppend(rows(8 + rnd.nextInt(10)), t)
        case 1 => Snapshots.deleteWhere(spark, t,
          col("k") % (2 + rnd.nextInt(3)) === 0)
        case 2 => Snapshots.updateWhere(spark, t,
          col("v") > rnd.nextInt(4), "v", col("v") + 10L)
        case 3 => Snapshots.deleteWhere(spark, t,
          col("k") === rnd.nextInt(12).toLong)
        case 4 => Snapshots.merge(spark, t,
          rows(6).groupBy("k").agg(max(col("v")).as("v")), "k")
        case 5 => Snapshots.deleteMatching(spark, t, "k",
          Seq.fill(3)(rnd.nextInt(12).toLong).toDF("k"))
      }
      (0 until 6).foreach { i =>
        step(rnd.nextInt(6))
        checkFrom += Snapshots.currentVersion(t)
      }
      val v2 = Snapshots.currentVersion(t)
      def multiset(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      // every span ending at head, including multi-step compositions
      checkFrom.distinct.filter(_ < v2).foreach { vFrom =>
        val (ins, del) = Snapshots.changesBetween(spark, t, vFrom, v2)
        val before = Snapshots.readVersion(spark, t, vFrom)
        val after = Snapshots.readVersion(spark, t, v2)
        assert(multiset(ins) == multiset(after.exceptAll(before)),
          s"ins round $round span $vFrom->$v2")
        assert(multiset(del) == multiset(before.exceptAll(after)),
          s"del round $round span $vFrom->$v2")
      }
    }
  }

  test("pqTrain returns codebooks bit-identical to pqBuild's") {
    import graft.operators.Similarity
    val rnd = new Random(1505)
    val e = Seq.tabulate(40)(i =>
        (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val (built, _) = Similarity.pqBuild(e, rounds = 1)
    val trained = Similarity.pqTrain(e, rounds = 1)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("m", "k", "cs", "cn").collect()
        .map(r => (r.getInt(0), r.getLong(1),
          r.getSeq[Long](2).toList, r.getLong(3))).toList.sortBy(x => (x._1, x._2))
    assert(rowsOf(trained) == rowsOf(built))
  }

  test("ivfTrain returns centroids bit-identical to ivfBuild's") {
    import graft.operators.Similarity
    val rnd = new Random(1504)
    val e = Seq.tabulate(60)(i =>
        (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    for (rounds <- Seq(1, 2)) {
      val (built, _) = Similarity.ivfBuild(e, c = 6, rounds = rounds)
      val trained = Similarity.ivfTrain(e, c = 6, rounds = rounds)
      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0),
          r.getSeq[Long](1).toList, r.getLong(2))).toList.sortBy(_._1)
      assert(rowsOf(trained) == rowsOf(built), s"rounds=$rounds")
    }
  }
}
