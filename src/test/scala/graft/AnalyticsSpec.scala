package graft

import org.apache.spark.sql.functions._
import graft.operators.{Events, Extended, Similarity}
import graft.functions.{StatsQueries, TextFunctions}

/** Invariant checks for the round-8 analytics/eval operators:
  * conservation laws and cross-formulation equalities the DuckDB hash
  * oracle cannot express (it proves value parity, not internal
  * consistency under perturbation).
  */
class AnalyticsSpec extends SparkSpec {

  test("attribution conserves conversions: each model credits every purchase exactly once") {
    val rows = Events.attribution.fn(spark, sfDir).collect()
    val purchases = Events.loadEvents(spark, sfDir)
      .where(col("event_type") === "purchase").count()
    val byModel = rows.groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(byModel.keySet == Set("first_touch", "last_touch"))
    assert(byModel.values.forall(_ == purchases),
      s"models must each credit all $purchases purchases: $byModel")
    val channels = rows.map(_.getString(1)).toSet
    assert(channels.subsetOf(Set("click", "view", "direct")), channels.toString)
  }

  test("markov transitions conserve rows: sum of cells == events - active users") {
    val e = Events.loadEvents(spark, sfDir)
    val nEvents = e.count()
    val nUsers = e.select("user_id").distinct().count()
    val cells = Events.markov.fn(spark, sfDir).collect()
    assert(cells.map(_.getLong(2)).sum == nEvents - nUsers)
    assert(cells.forall(r => r.getLong(3) >= 0 && r.getLong(3) <= 1000))
    // per-from probabilities floor-sum to within #cells of 1000
    cells.groupBy(_.getString(0)).foreach { case (from, cs) =>
      val p = cs.map(_.getLong(3)).sum
      assert(p > 1000 - cs.length && p <= 1000, s"$from rows sum to $p")
    }
  }

  test("MAD outliers match a brute-force reference per event type") {
    val got = Events.madOutliers.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val cents = Events.loadEvents(spark, sfDir)
      .select(col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("c"))
      .collect().groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).sorted).toMap
    for ((t, xs) <- cents) {
      def lowerMedian(v: Array[Long]): Long = v((v.length + 1) / 2 - 1)
      val med = lowerMedian(xs)
      val devs = xs.map(x => math.abs(x - med)).sorted
      val mad = lowerMedian(devs)
      val out = devs.count(_ > 3 * mad)
      assert(got(t) == ((xs.length.toLong, med, mad, out.toLong)), s"$t: ${got(t)}")
    }
  }

  test("table checksum is invariant under repartitioning (order-independence)") {
    val h = "cast(conv(substr(md5(concat_ws('|', cast(doc_id as string), md5(text)," +
      " lang, source, cast(n_chars as string))), 1, 15), 16, 10) as bigint)"
    val d = Tables.load(spark, sfDir, "documents")
    def sum(df: org.apache.spark.sql.DataFrame) =
      df.select(expr(h).cast("decimal(38,0)").as("h")).agg(org.apache.spark.sql.functions.sum("h"))
        .head().getDecimal(0)
    assert(sum(d) == sum(d.repartition(7)) && sum(d) == sum(d.orderBy(col("text"))))
  }

  test("table checksum is additive: whole == sum of disjoint slices (incremental audit)") {
    // the property that lets a 100 TB validation checksum only CHANGED
    // partitions: checksum(T) = Σ checksum(slice_i) for any disjoint cover
    val h = "cast(conv(substr(md5(concat_ws('|', cast(doc_id as string), md5(text)," +
      " lang, source, cast(n_chars as string))), 1, 15), 16, 10) as bigint)"
    val d = Tables.load(spark, sfDir, "documents")
    def sum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      df.select(expr(h).cast("decimal(38,0)").as("h"))
        .agg(org.apache.spark.sql.functions.sum("h")).head().getDecimal(0)
    val whole = sum(d)
    val slices = Seq(
      d.where(col("doc_id") % 3 === 0), d.where(col("doc_id") % 3 === 1),
      d.where(col("doc_id") % 3 === 2))
    val parts = slices.map(sum).reduce(_ add _)
    assert(whole.compareTo(parts) == 0, s"$whole != $parts")
  }

  test("incremental checksum ≡ full per-partition recompute, and folds stay in int64") {
    // the catalog query combines a persisted base snapshot with an O(Δ)
    // delta fold; this is its brute-force twin computed in one pass
    val got = StatsQueries.tableChecksumIncremental.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val li = Tables.load(spark, sfDir, "lineitem")
    val ser = "concat_ws('|', cast(l_orderkey as string), cast(l_partkey as string)," +
      " cast(l_suppkey as string), cast(l_linenumber as string)," +
      " cast(cast(l_quantity as decimal(18,2)) as string)," +
      " cast(cast(l_extendedprice as decimal(18,2)) as string)," +
      " cast(cast(l_discount as decimal(18,2)) as string)," +
      " cast(cast(l_tax as decimal(18,2)) as string), l_returnflag, l_linestatus," +
      " cast(cast(unix_date(cast(l_shipdate as date)) as bigint) * 86400" +
      " + hour(l_shipdate) * 3600 + minute(l_shipdate) * 60 + second(l_shipdate) as string))"
    val h = expr(s"cast(conv(substr(md5($ser), 1, 15), 16, 10) as bigint)")
    val full = li.groupBy((col("l_orderkey") % 8).as("p"))
      .agg(count(lit(1)).as("n"),
        (sum(h.cast("decimal(38,0)")) % lit(StatsQueries.ChecksumMod))
          .cast("long").as("c"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == full, s"incremental != full: $got vs $full")
    assert(got.values.forall { case (_, c) => c >= 0 && c < StatsQueries.ChecksumMod })
  }

  test("semantic-dedup drift trigger: shifted corpus fires re-train; verdicts recover one-shot parity") {
    import graft.sources.Snapshots
    val root = s"${Roots.scratch}/semdrift_spec"
    Snapshots.deleteRecursively(root)
    val (centsT, memT) = (s"$root/cents", s"$root/members")
    val e = Tables.load(spark, sfDir, "embeddings")
    val base = e.where(col("vec_id") % 2 === 0)
    // the distribution walks away: the other half arrives SHIFTED by a
    // constant vector (a large constant offset in every component)
    val shifted = e.where(col("vec_id") % 2 =!= 0)
      .withColumn("embedding",
        transform(col("embedding"), x => x + lit(3.0f)))
    val corpus = base.unionByName(shifted)
    Similarity.semDedupBootstrap(spark, base, centsT, memT)
    // un-drifted corpus must NOT fire
    assert(!Similarity.semDedupRetrainIfDrifted(spark, base, centsT, memT),
      "trigger fired on the training corpus itself")
    // shifted corpus must fire, re-train, and re-cluster
    assert(Similarity.semDedupRetrainIfDrifted(spark, corpus, centsT, memT),
      "trigger did not fire on a shifted corpus")
    // after re-train the new baseline fits the live corpus again
    assert(!Similarity.semDedupRetrainIfDrifted(spark, corpus, centsT, memT),
      "trigger re-fired immediately after re-train")
    // verdict parity: batch keep flags served from the re-clustered
    // members equal a one-shot computation under the re-trained
    // quantizer (assign the full corpus fresh, same dup predicate)
    val cents = Snapshots.read(spark, centsT)
    val batch = corpus.where(col("vec_id") % 10 === 3)
    val aB = Similarity.ivfAssign(Similarity.quantizedOf(batch), cents).drop("m")
    def flags(all: org.apache.spark.sql.DataFrame) =
      Similarity.semBatchKeep(aB, all).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val served = flags(Snapshots.read(spark, memT))
    val oneShot = flags(
      Similarity.ivfAssign(Similarity.quantizedOf(corpus), cents).drop("m"))
    assert(served == oneShot,
      s"served verdicts diverge from one-shot: ${served.size} vs ${oneShot.size}")
    assert(served.nonEmpty)
  }

  test("truncated-recall eval: 5 queries, full truth size 5, recall in range") {
    val rows = Similarity.truncatedRecall.fn(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L to 4L))
    rows.foreach { r =>
      assert(r.getLong(1) == 5L, s"n_true must be 5: $r")
      val rec = r.getLong(3)
      assert(rec >= 0 && rec <= 1000 && rec == r.getLong(2) * 1000 / 5, s"$r")
    }
  }

  test("LSH planner: S-curve is monotone, counts cover all verified candidates") {
    val rows = graft.operators.Dedup.lshPlanner.fn(spark, sfDir).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == (0 to 9).map(_ * 100L + 50))
    val ps = rows.map(_.getDouble(2))
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b }, "p_detect must be monotone in s")
    assert(ps.head < 0.01 && ps.last > 0.99, s"curve endpoints: ${ps.head}, ${ps.last}")
    // bin counts partition the candidate set
    val total = graft.operators.Dedup.minhashCandidates(
      graft.operators.Dedup.signed(Tables.load(spark, sfDir, "documents"))).count()
    assert(rows.map(_.getLong(1)).sum == total)
  }

  test("bloom-prefiltered decontamination is EXACTLY the unfiltered exact pipeline") {
    def rows(q: graft.QueryDef) = q.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = rows(TextFunctions.contamination)
    val bloomed = rows(TextFunctions.contaminationBloom)
    assert(exact == bloomed, s"${exact.size} vs ${bloomed.size} contaminated docs")
    assert(exact.nonEmpty)
  }

  test("n-gram novelty matches a brute-force set computation per test doc") {
    val d = Tables.load(spark, sfDir, "documents")
    val g = d.select(col("doc_id"),
      graft.functions.Native.wordNGramHashes(col("text"), 3).as("gs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val train = g.collect { case (id, gs) if id % 10 != 0 => gs }
      .foldLeft(Set.empty[Long])(_ ++ _)
    val got = TextFunctions.noveltyNgram.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val expected = g.collect { case (id, gs) if id % 10 == 0 && gs.nonEmpty =>
      val novel = gs.count(!train.contains(_)).toLong
      id -> ((gs.size.toLong, novel, novel * 1000 / gs.size))
    }
    assert(got == expected.toMap)
  }

  test("calibration curve: deciles partition, predicted is monotone, Brier nonnegative") {
    val rows = TextFunctions.calibrationCurve.fn(spark, sfDir).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    val scoredDocs = Tables.load(spark, sfDir, "documents")
      .where(size(filter(split(lower(col("text")), " "), t => t =!= "")) > 0).count()
    assert(rows.map(_.getLong(1)).sum == scoredDocs)
    val preds = rows.map(_.getLong(3))
    assert(preds.zip(preds.tail).forall { case (a, b) => a >= b },
      s"rank-based p-hat must fall across deciles: ${preds.toSeq}")
    rows.foreach { r =>
      assert(r.getLong(6) >= 0 && r.getLong(5) >= 0)
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000) // observed rate
    }
  }

  test("skyline equals a brute-force O(n^2) dominance check") {
    val parts = Tables.load(spark, sfDir, "part")
      .select(col("p_partkey"),
        (col("p_retailprice").cast("decimal(18,2)") * 100).cast("long"),
        col("p_size").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = parts.filter { case (_, pp, ps) =>
      !parts.exists { case (_, qp, qs) =>
        qp <= pp && qs <= ps && (qp < pp || qs < ps) }
    }.map(_._1).toSet
    val got = graft.operators.Extended.skyline.fn(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    assert(got == brute, s"${got.size} vs ${brute.size} frontier parts")
    assert(got.nonEmpty)
  }

  test("silhouette: clusters cover the corpus, means in [0, 1e6]") {
    val rows = Similarity.silhouette.fn(spark, sfDir).collect()
    val n = Tables.load(spark, sfDir, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == n, "every vector gets a silhouette")
    rows.foreach { r =>
      val m = r.getLong(2)
      assert(m >= 0 && m <= 1000000, s"mean silhouette out of range: $r")
    }
    assert(rows.length > 1)
  }

  test("label-centroid stability matches a brute-force recompute per label") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val vq = Similarity.quantizedOf(e)
      .join(e.select(col("vec_id"), col("label").cast("long").as("label")), Seq("vec_id"))
      .select("vec_id", "label", "q").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
    val got = Similarity.labelCentroidDrift.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == (0L to 9L).toSet)
    for ((label, (ne, no, stab)) <- got) {
      val members = vq.filter(_._2 == label)
      val (ev, od) = members.partition(_._1 % 2 == 0)
      assert((ev.length.toLong, od.length.toLong) == ((ne, no)))
      def sumVec(xs: Array[(Long, Long, Array[Long])]) =
        xs.map(_._3).transpose.map(_.sum)
      val (se, so) = (sumVec(ev), sumVec(od))
      val dot = se.zip(so).map { case (a, b) => a * b }.sum
      val expect = dot.toDouble /
        math.sqrt(se.map(x => x * x).sum.toDouble * so.map(x => x * x).sum.toDouble)
      assert(stab == expect, s"label $label: $stab != $expect")
      assert(stab >= -1.0 && stab <= 1.0)
    }
  }

  test("time-weighted average equals a sequential per-type fold") {
    val got = Events.twa.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val evs = Events.loadEvents(spark, sfDir)
      .select(col("event_type"), col("event_id"),
        expr("ts div 1000000000").as("sec"),
        floor(col("value") * 100 + 0.5).cast("long").as("vc"))
      .collect().groupBy(_.getString(0))
    for ((t, rows) <- evs) {
      val seq = rows.map(r => (r.getLong(2), r.getLong(1), r.getLong(3)))
        .sortBy(x => (x._1, x._2))
      val segs = seq.zip(seq.tail).map { case ((s1, _, v), (s2, _, _)) => (s2 - s1, v) }
      if (segs.nonEmpty) {
        val span = segs.map(_._1).sum
        val wsum = segs.map { case (d, v) => d * v }.sum
        val expect = (segs.length.toLong, span,
          if (span == 0) 0L else wsum * 10 / span)
        assert(got(t)._1 == expect._1 && got(t)._2 == expect._2, s"$t: ${got(t)} vs $expect")
        if (span > 0) assert(got(t)._3 == expect._3, s"$t twa: ${got(t)._3} vs ${expect._3}")
      }
    }
  }

  test("peak concurrency equals a brute-force sweep over sessions") {
    val r = Events.concurrency.fn(spark, sfDir).collect().head
    val (peak, firstPeak, nSess) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // rebuild sessions sequentially
    val evs = Events.loadEvents(spark, sfDir)
      .select(col("user_id"), col("event_id"), expr("ts div 1000000000").as("sec"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .groupBy(_._1)
    val sessions = evs.values.flatMap { rows =>
      val seq = rows.map(x => (x._3, x._2)).sortBy(identity).map(_._1)
      val bounds = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
      var (start, last) = (seq.head, seq.head)
      for (t <- seq.tail) {
        if (t - last > 1800) { bounds += ((start, last)); start = t }
        last = t
      }
      bounds += ((start, last))
      bounds
    }.toSeq
    assert(sessions.size.toLong == nSess)
    val deltas = sessions.flatMap { case (a, b) => Seq((a, 1L), (b + 1, -1L)) }
      .sortBy(identity)
    val running = deltas.scanLeft((0L, 0L)) { case ((_, acc), (t, d)) => (t, acc + d) }.tail
    val bPeak = running.map(_._2).max
    assert(peak == bPeak, s"peak $peak vs brute $bPeak")
    assert(firstPeak == running.filter(_._2 == bPeak).map(_._1).min)
  }

  test("substring decontamination equals a brute-force contains sweep; zero-rows ship") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val snippets = docs.filter(_._1 < 10)
      .map { case (id, t) => id -> t.slice(19, 69) } // substr(text,20,50), 1-based
      .filter(_._2.length == 50)
    val expected = snippets.map { case (id, sn) =>
      id -> docs.count { case (d, t) => d >= 10 && t.contains(sn) }.toLong
    }
    val got = TextFunctions.substringDecontamination.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected.toMap)
    assert(got.size == snippets.size, "every probe snippet must emit a row")
  }

  test("stickiness: mean DAU <= MAU, ratio in (0, 1000], windows partition active days") {
    val rows = Events.stickiness.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (days, mau, meanDau, ratio) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(days >= 1 && days <= 30, s"window has $days active days")
      assert(meanDau <= mau, s"mean DAU $meanDau > MAU $mau")
      assert(ratio > 0 && ratio <= 1000, s"stickiness $ratio out of range")
    }
    // total active days across windows == distinct (day) count
    val allDays = Events.loadEvents(spark, sfDir)
      .select(expr("(ts div 1000000000) div 86400").as("d")).distinct().count()
    assert(rows.map(_.getLong(1)).sum == allDays)
  }

  test("LSH bucket stats: implied candidate pairs bound the actual distinct pair count") {
    val stats = graft.operators.Dedup.bucketStats.fn(spark, sfDir).collect()
    assert(stats.map(_.getLong(0)).sorted.toSeq == (0L to 7L))
    val implied = stats.map(_.getLong(4)).sum
    val actual = graft.operators.Dedup.minhashCandidates(
      graft.operators.Dedup.signed(Tables.load(spark, sfDir, "documents"))).count()
    // per-band pair totals double-count pairs colliding in >1 band, so
    // the implied total upper-bounds the distinct candidate set
    assert(actual <= implied, s"actual $actual > implied $implied")
    assert(implied > 0)
    stats.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "singletons <= buckets")
      assert(r.getLong(3) >= 1)
    }
  }

  test("table profile matches a brute-force per-column recompute") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val got = StatsQueries.tableProfile.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    for (c <- Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")) {
      val cents = li.select(
        expr(s"cast(cast($c as decimal(18,2)) * 100 as bigint)").as("v"))
        .collect().map(_.getLong(0)).sorted
      val r = got(c)
      assert(r.getLong(1) == cents.length && r.getLong(2) == 0)
      assert(r.getLong(3) == cents.distinct.length)
      assert(r.getLong(4) == cents.head && r.getLong(5) == cents.last)
      assert(r.getLong(6) == cents.sum * 100 / cents.length)
      // flags must hold, and the sketch guarantee they encode must hold
      // against a brute-force exact quantile: e <= x <= e*(1+1/128)
      assert(r.getBoolean(7) && r.getBoolean(8) && r.getBoolean(9),
        s"$c quartile flags: $r")
      val est = graft.functions.Sketches.quantileSketch(
        col("v").cast("double"), Seq(0.25, 0.5, 0.75))
      val es = li.select(
        expr(s"cast(cast($c as decimal(18,2)) * 100 as bigint)").as("v"))
        .agg(est.as("e")).collect().head.getSeq[Double](0)
      for ((q, i) <- Seq(0.25, 0.5, 0.75).zipWithIndex) {
        val x = cents(math.floor(q * (cents.length - 1)).toInt).toDouble
        assert(es(i) <= x && x <= es(i) * (1 + 1.0 / 128),
          s"$c q=$q est=${es(i)} exact=$x")
      }
    }
  }

  test("gap audit: violations recomputed sequentially per type") {
    val got = Events.gapAudit.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val evs = Events.loadEvents(spark, sfDir)
      .select(col("event_type"), col("event_id"), expr("ts div 1000000000").as("sec"))
      .collect().groupBy(_.getString(0))
    for ((t, rows) <- evs) {
      val secs = rows.map(r => (r.getLong(2), r.getLong(1))).sorted.map(_._1)
      val gaps = secs.zip(secs.tail).map { case (a, b) => b - a }
      val span = gaps.sum
      val viol = gaps.count(g => g * (secs.length - 1) > 10 * span).toLong
      assert(got(t) == ((secs.length.toLong, span, gaps.max, viol)), s"$t: ${got(t)}")
    }
  }

  test("incremental exact dedup ≡ full-corpus canonical assignment for batch docs") {
    val d = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), md5(col("text")).as("fp")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val canon = d.groupBy(_._2).map { case (fp, xs) => fp -> xs.map(_._1).min }
    val expected = d.collect { case (id, fp) if id % 10 == 0 =>
      id -> ((canon(fp), canon(fp) != id))
    }.toMap
    val got = graft.operators.Dedup.exactIncremental.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got == expected)
    assert(got.nonEmpty)
    // replay is idempotent: a second run returns the identical frame
    val again = graft.operators.Dedup.exactIncremental.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(again == got)
  }

  test("threshold sweep is monotone: higher tau never drops more") {
    val rows = graft.operators.Dedup.thresholdSweep.fn(spark, sfDir).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(300L, 500L, 700L))
    val pairs = rows.map(_.getLong(1))
    val dropped = rows.map(_.getLong(2))
    assert(pairs.zip(pairs.tail).forall { case (a, b) => a >= b })
    assert(dropped.zip(dropped.tail).forall { case (a, b) => a >= b })
    rows.foreach(r => assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000))
  }

  test("mutual components partition the corpus; mutual edges are symmetric subgraph") {
    val hist = Similarity.mutualComponents.fn(spark, sfDir).collect()
    val n = Tables.load(spark, sfDir, "embeddings").count()
    assert(hist.map(r => r.getLong(1) * r.getLong(0)).sum == n,
      "cluster sizes must sum to the corpus")
    val g = Similarity.knnGraphTable(spark, sfDir)
      .select("g_src", "g_dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mutual = g.filter { case (a, b) => g.contains((b, a)) && a != b }
    assert(mutual.map(_.swap).subsetOf(mutual))
    assert(mutual.nonEmpty, "testdata should produce at least one mutual edge")
  }

  test("classifier lift deciles partition the corpus and capture sums to ~1000") {
    val rows = TextFunctions.classifierLift.fn(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (1L to 10L))
    val scored = Tables.load(spark, sfDir, "documents")
      .where(size(filter(split(lower(col("text")), " "), t => t =!= "")) > 0)
    assert(rows.map(_.getLong(1)).sum == scored.count())
    val capture = rows.map(_.getLong(4)).sum
    assert(capture > 1000 - rows.length && capture <= 1000, capture.toString)
  }

  test("quality ensemble: dropped docs carry a reason; dup groups keep exactly the min id") {
    val rows = TextFunctions.qualityEnsemble.fn(spark, sfDir).collect()
    rows.foreach { r =>
      val flags = (1 to 5).map(r.getBoolean)
      assert(r.getBoolean(6) == !flags.exists(identity),
        s"keep must be the negation of any-reason: $r")
    }
    // every md5-duplicate group marks all but its min doc_id dup_nonkeep
    val d = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), md5(col("text")).as("fp")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val dupFlag = rows.map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    d.groupBy(_._2).values.filter(_.length > 1).foreach { grp =>
      val ids = grp.map(_._1).sorted
      assert(!dupFlag(ids.head) && ids.tail.forall(dupFlag), s"group $ids")
    }
  }

  test("A/B verdict agrees with the floating-point z-test on the same counts") {
    val r = Events.abTest.fn(spark, sfDir).head()
    val (na, xa, nb, xb) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val (p1, p2) = (xa.toDouble / na, xb.toDouble / nb)
    val p = (xa + xb).toDouble / (na + nb)
    // degenerate all-or-none corpus: zero pooled variance, z undefined
    val expected = p > 0 && p < 1 && {
      val z2 = math.pow(p1 - p2, 2) / (p * (1 - p) * (1.0 / na + 1.0 / nb))
      z2 >= 3.8416
    }
    assert(r.getBoolean(6) == expected,
      s"exact verdict ${r.getBoolean(6)} vs float expectation $expected")
  }

  test("exact AUC equals the brute-force pairwise concordance count") {
    val r = TextFunctions.evalAuc.fn(spark, sfDir).head()
    val (n, p, auc) = (r.getLong(0), r.getLong(1), r.getLong(3))
    // recompute from the same scorer: AUC = (conc + ties/2) / (p*neg)
    val sparkW = "((cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint) % 1024)" +
      " * 2654435761L) % 2003 - 1001"
    val scored = Tables.load(spark, sfDir, "documents")
      .select((col("lang") === "en").cast("long").as("pos"),
        expr(s"aggregate(filter(split(lower(text), ' '), x -> x != ''), 0L," +
          s" (acc, t) -> acc + ($sparkW))").as("score"))
      .where(expr("size(filter(split(lower(text), ' '), x -> x != '')) > 0"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pos = scored.filter(_._1 == 1L).map(_._2)
    val neg = scored.filter(_._1 == 0L).map(_._2)
    assert(n == scored.length && p == pos.length)
    val conc = (for (a <- pos; b <- neg) yield if (a > b) 2L else if (a == b) 1L else 0L).sum
    assert(auc == conc * 500L / (pos.length.toLong * neg.length), s"auc $auc")
  }

  test("changepoint split maximizes the mean shift over all candidate splits") {
    val got = Events.changepoint.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(6))).toMap
    val daily = Events.loadEvents(spark, sfDir)
      .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
      .agg(count(lit(1)).as("y")).collect()
      .groupBy(_.getString(1)).view
      .mapValues(_.map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)).toMap
    for ((t, series) <- daily) {
      val best = (1 until series.length).map { i =>
        val (pre, post) = series.splitAt(i)
        val shift = math.abs(post.map(_._2).sum * 1000 / post.length -
          pre.map(_._2).sum * 1000 / pre.length)
        (shift, series(i - 1)._1)
      }.maxBy { case (s, d) => (s, -d) }
      assert(got(t) == ((best._2, best._1)), s"$t: ${got(t)} vs $best")
    }
  }

  test("sequential bigram support equals brute-force per-user occurrence check") {
    val got = Events.seqPatterns.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val byUser = Events.loadEvents(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        (expr("ts div 1000000000") * 1000000000L + col("event_id")).as("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
    val types = byUser.values.flatten.map(_._2).toSet.toSeq.sorted
    for (a <- types; b <- types) {
      val support = byUser.values.count { evs =>
        val as = evs.filter(_._2 == a).map(_._3)
        val bs = evs.filter(_._2 == b).map(_._3)
        as.nonEmpty && bs.nonEmpty && as.min < bs.max
      }
      assert(got.getOrElse((a, b), 0L) == support.toLong, s"$a->$b")
    }
  }

  test("association rules: confidence consistent with antecedent counts, both directions present") {
    val rules = graft.operators.Extended.assocRules.fn(spark, sfDir).collect()
    assert(rules.length == 20)
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cnt = li.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairSupport = li.groupBy(_._1).values
      .flatMap { o =>
        val parts = o.map(_._2).toSeq
        for (a <- parts; b <- parts if a < b) yield (a, b)
      }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    rules.foreach { r =>
      val (ante, cons, sup, conf) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val key = (math.min(ante, cons), math.max(ante, cons))
      assert(pairSupport(key) == sup, s"support of $key")
      assert(conf == sup * 1000 / cnt(ante), s"conf of $ante->$cons")
      assert(conf > 0 && conf <= 1000)
    }
  }

  test("k-anonymity histogram accounts for every document exactly once") {
    val rows = TextFunctions.kAnonymity.fn(spark, sfDir).collect()
    val total = Tables.load(spark, sfDir, "documents").count()
    assert(rows.map(_.getLong(2)).sum == total)
    rows.foreach { r =>
      assert(r.getLong(0) * r.getLong(1) == r.getLong(2), r.toString)
      assert(r.getBoolean(3) == (r.getLong(0) < 5))
    }
  }

  test("kappa is consistent with the nearest-centroid confusion matrix") {
    val conf = Similarity.nearestCentroid.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val n = conf.values.sum
    val diag = conf.collect { case ((t, p), c) if t == p => c }.sum
    val rows = conf.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val cols = conf.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val chance = (rows.keySet ++ cols.keySet).toSeq
      .map(l => rows.getOrElse(l, 0L) * cols.getOrElse(l, 0L)).sum
    val r = Similarity.labelKappa.fn(spark, sfDir).head()
    assert(r.getLong(0) == n && r.getLong(1) == diag)
    assert(r.getLong(2) == diag * 1000 / n)
    assert(r.getLong(3) == (diag * n - chance) * 1000 / (n * n - chance))
    // kappa must not exceed accuracy (chance correction only shrinks)
    assert(r.getLong(3) <= r.getLong(2))
  }

  test("retrieval eval agrees with a brute-force ranking recheck") {
    val got = Similarity.evalRetrieval.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3), r.getLong(4)))
      .toMap
    val vecs = Tables.load(spark, sfDir, "embeddings").collect().map { r =>
      val emb = r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000 + 0.5).toLong)
      (r.getLong(0), emb, r.getInt(2).toLong)
    }
    for ((qid, qv, qlab) <- vecs.filter(_._1 < 10)) {
      val ranked = vecs.filter(_._1 != qid).map { case (id, v, lab) =>
        val dot = qv.zip(v).map { case (a, b) => a * b }.sum
        val sim = dot.toDouble / math.sqrt(
          qv.map(x => x * x).sum.toDouble * v.map(x => x * x).sum.toDouble)
        (id, sim, lab)
      }.sortBy { case (id, sim, _) => (-sim, id) }.take(10)
      val rel = ranked.map(_._3 == qlab)
      val p5 = rel.take(5).count(identity).toLong
      val firstRel = rel.indexWhere(identity)
      val rr = if (firstRel < 0) 0L else 1000L / (firstRel + 1)
      assert(got(qid) == ((p5, p5 * 1000 / 5, firstRel >= 0, rr)), s"q $qid: ${got(qid)}")
    }
  }

  test("leakage-safe split: clusters never span splits, counts conserve the corpus") {
    val rows = graft.operators.Dedup.splitLeakage.fn(spark, sfDir).collect()
    val total = Tables.load(spark, sfDir, "documents").count()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      assert(r.getLong(5) == 0L, "cluster-keyed split must never tear a cluster")
    }
    // the naive counterfactual is identical on every row (global value)
    assert(rows.map(_.getLong(4)).distinct.length == 1)
    // cluster assignment really groups: members of one cluster share a split
    val clusters = graft.operators.Dedup.cluster.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val splitOf = clusters.map { case (doc, canon) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(canon.toString.getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString
      doc -> java.lang.Long.parseLong(h.take(15), 16) % 10
    }.toMap
    clusters.groupBy(_._2).values.foreach { grp =>
      assert(grp.map(g => splitOf(g._1)).distinct.length == 1)
    }
  }

  test("source diversity: Simpson bounded by theory, effective sources <= actual") {
    val rows = graft.operators.Dedup.corpusDiversity.fn(spark, sfDir).collect()
    rows.foreach { r =>
      val (n, s, simpson, eff) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(simpson >= 0 && simpson < 1000000)
      // max Gini-Simpson for s categories is 1 - 1/s
      assert(simpson <= 1000000 - 1000000 / s, s"${r.getString(0)}")
      assert(eff >= 1000 && eff <= s * 1000, s"eff $eff vs $s sources")
      assert(n >= s)
    }
  }

  test("Holt forecast equals a sequential Scala fold over the same series") {
    val got = Events.forecast.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val daily = Events.loadEvents(spark, sfDir)
      .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
      .agg(count(lit(1)).as("y")).collect()
      .groupBy(_.getString(1)).view
      .mapValues(_.map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).map(_._2)).toMap
    for ((t, ys) <- daily if ys.length >= 2) {
      var l = ys(0) * 1000L
      var tr = (ys(1) - ys(0)) * 1000L
      for (y <- ys.drop(2)) {
        val ln = (y * 1000L + l + tr) / 2
        tr = ((ln - l) + tr) / 2
        l = ln
      }
      assert(got(t) == ((ys.length.toLong, l, tr, l + tr)), s"$t: ${got(t)} vs ($l, $tr)")
    }
  }

  test("minhash accuracy audit: estimates recomputed from signatures, verdicts consistent") {
    val rows = graft.operators.Dedup.minhashAccuracy.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exact, est, err) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(exact >= 0 && exact <= 1000 && est >= 0 && est <= 1000)
      assert(err == math.abs(est - exact))
      assert(r.getBoolean(5) == (err <= 300))
      assert(r.getBoolean(6) == ((est >= 500) == (exact >= 500)))
    }
    // band-collision pairs are biased toward high similarity: the
    // estimator should agree with the threshold decision on most pairs
    val agree = rows.count(_.getBoolean(6))
    assert(agree * 10 >= rows.length * 8, s"$agree/${rows.length} decisions agree")
  }

  test("LPA communities: labels are node ids, sizes ordered, deterministic rerun") {
    val a = Similarity.graphCommunities.fn(spark, sfDir).collect()
    val b = Similarity.graphCommunities.fn(spark, sfDir).collect()
    assert(a.toSeq.map(_.toSeq) == b.toSeq.map(_.toSeq), "LPA must be deterministic")
    val sizes = a.sortBy(_.getLong(0)).map(_.getLong(2))
    assert(sizes.zip(sizes.tail).forall { case (x, y) => x >= y }, "sizes desc")
    val nodes = Similarity.knnGraphTable(spark, sfDir)
      .select("g_src").distinct().count()
    assert(sizes.sum <= nodes)
    assert(a.forall(_.getLong(2) >= 1))
  }

  test("bigram surprise matches a brute-force recompute on a sample of docs") {
    val got = TextFunctions.qualityLmBigram.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), expr("filter(split(lower(text), ' '), x -> x <> '')"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val c1 = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val v = c1.size.toLong
    val c2 = docs.flatMap { case (_, tk) => tk.zip(tk.drop(1)) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    for ((id, tk) <- docs.take(50) if tk.length >= 2) {
      val surs = tk.zip(tk.drop(1)).map { bg =>
        ((c1(bg._1) + v) * 1000L) / (c2(bg) + 1L)
      }
      assert(got(id) == ((surs.length.toLong, surs.sum / surs.length)), s"doc $id")
    }
  }

  test("span-corruption mask matches a local md5 recompute; global rate near 15%") {
    val got = TextFunctions.maskSpans.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def h60mod100(s: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.take(15), 16) % 100
    }
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), expr("filter(split(lower(text), ' '), x -> x <> '')"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    for ((id, tk) <- docs.take(50) if tk.nonEmpty) {
      val mask = (1 to tk.length).map(i => h60mod100(s"$id:$i") < 15)
      val spans = mask.zipWithIndex.count { case (m, i) => m && (i == 0 || !mask(i - 1)) }
      assert(got(id) == ((tk.length.toLong, mask.count(identity).toLong, spans.toLong)),
        s"doc $id")
    }
    val (masked, toks) = (got.values.map(_._2).sum, got.values.map(_._1).sum)
    assert(masked * 1000 / toks > 100 && masked * 1000 / toks < 200,
      s"global mask rate ${masked * 1000 / toks}")
    got.values.foreach { case (_, m, sp) => assert(sp <= m) }
  }

  test("rolling 7-day window equals a brute-force trailing scan") {
    val got = Events.rolling.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val daily = Events.loadEvents(spark, sfDir)
      .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
      .agg(count(lit(1)).as("y")).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    for ((t, d, _) <- daily) {
      val win = daily.filter { case (t2, d2, _) => t2 == t && d2 >= d - 6 && d2 <= d }
      val (n, c) = (win.map(_._3).sum, win.length.toLong)
      assert(got((t, d)) == ((n, c, n * 1000 / c)), s"($t, $d)")
    }
  }

  test("cost-routed ANN picks brute force on the small corpus and matches it exactly") {
    val rows = Similarity.knnRouted.fn(spark, sfDir).collect()
    assert(rows.forall(_.getString(0) == "brute"),
      "sf0.01 corpus (500 rows) must route below the 1000-row threshold")
    val routed = rows.map(r => (r.getLong(1), r.getLong(2))).toSet
    // recompute top-5 from the top-10 brute baseline's own ordering
    val top5 = Similarity.knnBruteForce.fn(spark, sfDir).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(r => (-r.getDouble(2), r.getLong(1))).take(5).map(_.getLong(1)).toSet)
      .toMap
    for ((q, ns) <- routed.groupBy(_._1).view.mapValues(_.map(_._2)).toMap)
      assert(ns == top5(q), s"query $q: $ns vs ${top5(q)}")
  }

  test("real PNG decode recovers the generative pixel formula exactly") {
    val rows = graft.operators.Multimodal.imageDecodeReal.fn(spark, sfDir).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val i = r.getLong(0)
      assert(r.getBoolean(1), s"image $i must decode through the REAL codec path")
      val (w, h) = (16 + i, 8 + i)
      assert(r.getLong(2) == w && r.getLong(3) == h)
      val luma = (for (y <- 0L until h; x <- 0L until w) yield
        299 * ((7 * x + 3 * i) % 256) + 587 * ((11 * y + 5 * i) % 256) +
          114 * ((x + y + i) % 256)).sum
      assert(r.getLong(4) == luma / (w * h), s"image $i luma")
    }
  }

  test("BPE merges match an independent greedy dictionary-BPE in Scala") {
    val got = TextFunctions.bpeMerges.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.length == 3)
    // independent implementation: greedy left-to-right merge on the
    // top-100 weighted dictionary (true BPE application; the operator's
    // bounded 3-pass replace must produce the same chosen PAIRS even
    // though long runs could in principle differ in symbol sequences)
    val dict0 = Tables.load(spark, sfDir, "documents")
      .select(explode(expr("filter(split(lower(text), ' '), x -> x <> '')")).as("w"))
      .collect().map(_.getString(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .toSeq.sortBy { case (w, c) => (-c, w) }.take(100)
    var dict = dict0.map { case (w, c) => (w.split("").toList, c) }
    for ((round, l, r, wc) <- got) {
      val pairCounts = dict.flatMap { case (syms, c) =>
        syms.zip(syms.drop(1)).map(p => p -> c)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val best = pairCounts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      assert((l, r) == best._1, s"round $round: ($l,$r) vs ${best._1}")
      assert(wc == best._2, s"round $round support")
      dict = dict.map { case (syms, c) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        (out.toList, c)
      }
    }
  }

  test("BPE encode: symbol accounting exact, compression strict and bounded") {
    val rows = TextFunctions.bpeEncode.fn(spark, sfDir).collect()
    val charTotals = Tables.load(spark, sfDir, "documents")
      .select(col("source"), expr(
        "aggregate(filter(split(lower(text), ' '), x -> x <> ''), 0L, (a, w) -> a + length(w))")
        .as("chars"))
      .groupBy("source").agg(sum(col("chars")).as("chars")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (src, before, after, comp) =
        (r.getString(0), r.getLong(3), r.getLong(4), r.getLong(5))
      // before-merge symbols are exactly the token characters
      assert(before == charTotals(src), s"$src symbol accounting")
      assert(after < before, s"$src: 3 merges must compress a natural corpus")
      assert(comp == after * 1000 / before && comp > 0 && comp < 1000)
    }
  }

  test("langid eval: micro counts conserve, F1 between precision and recall bounds") {
    val rows = TextFunctions.langIdEval.fn(spark, sfDir).collect()
    val total = Tables.load(spark, sfDir, "documents").count()
    assert(rows.map(_.getLong(1)).sum == total, "gold counts must cover the corpus")
    assert(rows.map(_.getLong(2)).sum == total, "pred counts must cover the corpus")
    val perDoc = TextFunctions.langId.fn(spark, sfDir).collect()
    val correct = perDoc.count(_.getBoolean(7)).toLong
    assert(rows.map(_.getLong(3)).sum == correct, "tp total == correct docs")
    rows.foreach { r =>
      val (g, p, tp, pr, rc, f1) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))
      assert(tp <= math.min(g, p))
      assert(pr == (if (p > 0) tp * 1000 / p else 0L) && rc == tp * 1000 / g)
      assert(f1 == (if (p + g > 0) 2 * tp * 1000 / (p + g) else 0L))
      // harmonic mean lies between the two rates (floor-div tolerance 1)
      assert(f1 <= math.max(pr, rc) + 1 && f1 + 1 >= math.min(pr, rc))
    }
  }

  test("seasonality heatmap conserves events; dow/hour in range") {
    val rows = Events.heatmap.fn(spark, sfDir).collect()
    val total = Events.loadEvents(spark, sfDir).count()
    assert(rows.map(_.getLong(2)).sum == total)
    rows.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) < 7)
      assert(r.getLong(1) >= 0 && r.getLong(1) < 24)
      assert(r.getLong(3) <= r.getLong(2), "distinct users cannot exceed events")
    }
    // 2024-01-01 (epoch day 19723) was a Monday: (19723 + 3) % 7 == 0
    assert((19723L + 3) % 7 == 0L)
  }

  test("no zero-norm vector exists at any SF (the cosine guard stays dormant on the gate)") {
    // cosine()'s divisor is nullif-guarded, so a zero-norm vector now
    // yields NULL (dropping out of rankings and τ predicates) instead
    // of the old rank-1-everywhere NaN; this pins that the testdata
    // corpus never exercises the guard in any hash-verified query, so
    // the guard cannot affect oracle parity
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val zero = Similarity.quantizedOf(Tables.load(spark, sf, "embeddings"))
        .where(col("nrm") === 0L).count()
      assert(zero == 0L, s"$sf carries $zero zero-norm vectors")
      // the 16-dim truncated slice (s_knn_truncated_recall) has its own
      // norms — a vector whose FIRST 16 dims quantize to zero would
      // diverge cross-engine without the oracle's NULLIF guard; pin
      // that the corpus never exercises that path either
      val zeroT = Tables.load(spark, sf, "embeddings")
        .select(Similarity.quantize(slice(col("embedding"), 1, 16)).as("q"))
        .where(graft.functions.Native.dotLong(col("q"), col("q")) === 0L).count()
      assert(zeroT == 0L, s"$sf carries $zeroT zero-norm 16-dim slices")
    }
  }

  test("cosine of a zero-norm vector is NULL and drops out of top-k and τ filters") {
    import spark.implicits._
    val v = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(0.0f, 0.0f)),
      (2L, Array(2.0f, 4.0f))).toDF("vec_id", "embedding")
    val q = Similarity.quantizedOf(v)
    val scored = q.where(col("vec_id") === 0L).toDF("q_id", "q_q", "q_nrm")
      .crossJoin(q.where(col("vec_id") =!= 0L).toDF("n_id", "n_q", "n_nrm"))
      .select(col("n_id"),
        Similarity.cosine(graft.functions.Native.dotLong(col("q_q"), col("n_q")),
          col("q_nrm"), col("n_nrm")).as("sim"))
    val rows = scored.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows(1L).isEmpty, "zero-norm neighbor must score NULL, not NaN")
    assert(rows(2L).exists(s => math.abs(s - 1.0) < 1e-9))
    // NULL fails the τ predicate and ranks below every real sim
    assert(scored.where(col("sim") >= 0.0).collect().map(_.getLong(0)).toSeq == Seq(2L))
    val ranked = scored.orderBy(col("sim").desc).collect().map(_.getLong(0)).toSeq
    assert(ranked == Seq(2L, 1L), s"NULL must sort last under desc: $ranked")
  }

  test("CUSUM monitor equals a sequential Scala fold; clamp and peak invariants hold") {
    val got = Events.cusum.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toMap
    val daily = Events.loadEvents(spark, sfDir)
      .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
      .agg(count(lit(1)).as("y")).collect()
      .groupBy(_.getString(1)).view
      .mapValues(_.map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)).toMap
    for ((tpe, series) <- daily) {
      val n = series.length.toLong
      val mean = series.map(_._2).sum * 1000L / n
      val slack = mean / 10
      var s = 0L; var peak = 0L; var pday = -1L
      for ((day, y) <- series) {
        s = math.max(0L, s + y * 1000L - mean - slack)
        if (s > peak) { peak = s; pday = day }
      }
      assert(got(tpe) == ((n, mean, peak, pday, peak > mean * 5)), s"$tpe: ${got(tpe)}")
    }
  }

  test("readability orders sources sanely and stays within per-doc bounds") {
    val rows = StatsQueries.defs // touch object init orders
    val got = TextFunctions.readability.fn(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (avg, lo, hi) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(lo <= avg && avg <= hi, s"${r.getString(0)}: $lo <= $avg <= $hi")
      // Flesch fixed-point stays in a plausible band: > -200k, < 207k
      assert(hi <= 206835L && lo > -400000L)
    }
    assert(rows.nonEmpty)
  }

  test("embedding PCA power iteration matches a driver-side exact recompute") {
    val got = Similarity.embeddingPca.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val q = Similarity.quantizedOf(Tables.load(spark, sfDir, "embeddings"))
      .select("q").collect().map(_.getSeq[Long](0).toArray)
    val n = q.length.toLong
    val d = 64
    val sv = Array.tabulate(d)(j => q.map(_(j)).sum)
    val m = Array.tabulate(d, d) { (j, k) =>
      n * q.map(v => v(j) * v(k)).sum - sv(j) * sv(k)
    }
    var v = Array.fill(d)(1000L)
    for (_ <- 1 to 3) {
      val w = Array.tabulate(d)(j => (0 until d).map(k => m(j)(k) * v(k)).sum)
      val mx = w.map(math.abs).max
      assert(mx > 0, "degenerate scatter: all-zero M*v")
      // Spark `div` and Scala Long `/` both truncate toward zero
      v = w.map(x => x * 1000 / mx)
    }
    assert(got.keySet == (0L until d).map(_.toLong).toSet)
    for (j <- 0 until d)
      assert(got(j.toLong) == v(j), s"dim $j: ${got(j.toLong)} != ${v(j)}")
    // the normalization pins the dominant component to ±1000
    assert(v.map(math.abs).max == 1000L)
  }

  test("daily ACF matches a driver-side dense-series Pearson recompute; |r| <= 1") {
    val got = Events.acf.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val daily = Events.loadEvents(spark, sfDir)
      .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
      .agg(count(lit(1)).as("y")).collect()
      .groupBy(_.getString(1))
      .view.mapValues(_.map(r => r.getLong(0) -> r.getLong(2)).toMap).toMap
    var expected = 0
    for ((t, byDay) <- daily; lag <- Seq(1L, 2L, 3L, 7L)) {
      val d0 = byDay.keys.min
      val d1 = byDay.keys.max
      val series = (d0 to d1).map(d => byDay.getOrElse(d, 0L)).toArray
      val xs = series.dropRight(lag.toInt.min(series.length))
      val ys = series.drop(lag.toInt)
      val n = math.min(xs.length, ys.length).toLong
      if (n > 1) {
        val sx = xs.sum; val sy = ys.sum
        val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
        val sxx = xs.map(a => a * a).sum; val syy = ys.map(a => a * a).sum
        val vx = n * sxx - sx * sx; val vy = n * syy - sy * sy
        if (vx > 0 && vy > 0) {
          expected += 1
          val r = (n * sxy - sx * sy).toDouble / math.sqrt(vx.toDouble * vy.toDouble)
          val (gn, gr) = got.getOrElse((t, lag),
            fail(s"missing ($t, lag $lag) in ACF output"))
          assert(gn == n, s"($t,$lag) pair count $gn != $n")
          assert(gr == r, s"($t,$lag) acf $gr != $r")
          assert(math.abs(gr) <= 1.0 + 1e-12, s"($t,$lag) |r| > 1: $gr")
        }
      }
    }
    assert(got.size == expected, s"${got.size} rows vs $expected recomputed")
  }

  test("link prediction matches a driver-side wedge recompute; predicted pairs are non-edges") {
    val got = Similarity.graphLinkPredict.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val edges = Similarity.knnGraphTable(spark, sfDir)
      .select("g_src", "g_dst").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .filter(p => p._1 != p._2).toSet
    val adj = edges.toSeq.flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val cand = adj.values.toSeq.flatMap { ns =>
      val sorted = ns.toSeq.sorted
      for (i <- sorted.indices; j <- (i + 1) until sorted.length)
        yield (sorted(i), sorted(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter { case (p, cn) => cn >= 2 && !edges.contains(p) }
    val scored = cand.toSeq.map { case ((u, v), cn) =>
      (u, v, cn, 1000 * cn / (adj(u).size + adj(v).size - cn))
    }.sortBy { case (u, v, cn, j) => (-j, -cn, u, v) }.take(50)
    assert(got.length == math.min(50, scored.length))
    got.zip(scored).zipWithIndex.foreach { case (((gu, gv, gcn, gj, rnk), (u, v, cn, j)), i) =>
      assert((gu, gv, gcn, gj) == ((u, v, cn, j)), s"rank ${i + 1}: got ${(gu, gv, gcn, gj)} want ${(u, v, cn, j)}")
      assert(rnk == i + 1)
      assert(!edges.contains((gu, gv)), s"predicted pair $gu-$gv is already an edge")
      assert(gcn <= math.min(adj(gu).size, adj(gv).size), "cn exceeds a neighborhood")
    }
  }

  test("token coverage matches a driver-side Zipf recompute; monotone in k, bounded by 1e6") {
    val got = TextFunctions.tokenCoverage.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val counts = Tables.load(spark, sfDir, "documents")
      .select(col("text")).collect().map(_.getString(0))
      .flatMap(_.toLowerCase.split(" ").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (w, n) => (-n, w) }
    val total = counts.map(_._2).sum
    for (k <- Seq(10L, 100L, 1000L)) {
      val used = counts.take(k.toInt)
      val mass = used.map(_._2).sum
      assert(got(k) == ((used.length.toLong, mass, total, mass * 1000000 / total)),
        s"k=$k: ${got(k)}")
    }
    assert(got(10L)._4 <= got(100L)._4 && got(100L)._4 <= got(1000L)._4,
      "coverage must be monotone in k")
    assert(got(1000L)._4 <= 1000000L)
  }

  test("interval join equals a brute-force per-order week expansion; mass conserves") {
    val got = graft.operators.Extended.intervalJoin.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val orders = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("d0"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lastShip = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_orderkey")
      .agg(max(expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")).as("d1"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    var expandedRows = 0L
    for ((ok, d0, cents) <- orders; d1 <- lastShip.get(ok)) {
      for (w <- (d0 / 7) to (math.max(d0, d1) / 7)) {
        val (n, v) = expect.getOrElse(w, (0L, 0L))
        expect(w) = (n + 1, v + cents)
        expandedRows += 1
      }
    }
    assert(got == expect.toMap, s"weeks differ: got ${got.size} want ${expect.size}")
    // conservation: summed open-order-weeks equals the expanded row count
    assert(got.values.map(_._1).sum == expandedRows)
  }

  test("distributed global prefix sum equals the single-task WindowExec form per part") {
    import org.apache.spark.sql.expressions.{Window => W}
    val rev = Tables.load(spark, sfDir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)")).as("cents"))
      .localCheckpoint()
    val scalable = graft.operators.Extended
      .globalPrefixSum(rev, "cents", "l_partkey", "cents")
      .select("l_partkey", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naive = rev.withColumn("cum",
        sum(col("cents")).over(W.orderBy(col("cents").desc, col("l_partkey"))))
      .select("l_partkey", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scalable == naive,
      s"prefix sums diverge on ${scalable.count { case (k, v) => naive.get(k) != Some(v) }} parts")
    // and the rolled-up ABC classes conserve parts and revenue mass
    val cls = graft.operators.Extended.abcPareto.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(cls.keySet.subsetOf(Set("A", "B", "C")))
    assert(cls.values.map(_._1).sum == rev.count())
    val totalCents = rev.agg(sum("cents")).collect()(0).getLong(0)
    assert(cls.values.map(_._2).sum == totalCents)
    val shareSum = cls.values.map(_._3).sum
    assert(shareSum > 1000000L - cls.size && shareSum <= 1000000L, s"shares sum to $shareSum")
  }

  test("rolling 7-day distinct users equals a brute-force window scan; WAU >= DAU") {
    val got = Events.rollingDau.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val ud = Events.loadEvents(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDay = ud.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(got.keySet == byDay.keySet)
    for ((d, users) <- byDay) {
      val wau = ((d - 6) to d).flatMap(byDay.get).flatten.toSet.size.toLong
      val dau = users.size.toLong
      assert(got(d) == ((dau, wau, dau * 1000 / wau)), s"day $d: ${got(d)}")
      assert(wau >= dau)
    }
  }

  test("seasonal decomposition reconstructs: y*1000 == trend + seasonal + residual; recompute matches") {
    val rows = Events.seasonalDecompose.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (t, d, y, tr, se, re) =>
      assert(y * 1000 == tr + se + re, s"($t,$d) does not reconstruct")
    }
    // driver-side recompute of trend and dow means on the dense grid
    val daily = Events.loadEvents(spark, sfDir)
      .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
      .agg(count(lit(1)).as("y")).collect()
      .groupBy(_.getString(1))
      .view.mapValues(_.map(r => r.getLong(0) -> r.getLong(2)).toMap).toMap
    val got = rows.map(r => (r._1, r._2) -> (r._4, r._5)).toMap
    for ((t, byDay) <- daily) {
      val d0 = byDay.keys.min; val d1 = byDay.keys.max
      val dense = (d0 to d1).map(d => d -> byDay.getOrElse(d, 0L)).toMap
      val trend = dense.keys.map { d =>
        val win = ((d - 3) to (d + 3)).filter(dense.contains)
        d -> 1000 * win.map(dense).sum / win.length
      }.toMap
      val detr = dense.map { case (d, y) => d -> (y * 1000 - trend(d)) }
      val seas = detr.groupBy { case (d, _) => (d + 3) % 7 }
        .view.mapValues(v => v.values.sum / v.size).toMap
      for (d <- dense.keys) {
        val e = (trend(d), seas((d + 3) % 7))
        assert(got((t, d)) == e, s"($t,$d): ${got((t, d))} != $e")
      }
    }
  }

  test("explained variance matches a BigInt Rayleigh recompute and lands in [0, 1e6]") {
    val row = Similarity.embeddingVariance.fn(spark, sfDir).collect()
    assert(row.length == 1)
    val (trace, vtv, ratio) = (row(0).getLong(0), row(0).getLong(1), row(0).getLong(2))
    assert(ratio >= 0 && ratio <= 1000000L, s"PSD scatter must give ratio in [0,1e6]: $ratio")
    // recompute with BigInt from the raw embeddings + the served PC
    val q = Similarity.quantizedOf(Tables.load(spark, sfDir, "embeddings"))
      .select("q").collect().map(_.getSeq[Long](0).toArray)
    val d = 64; val n = q.length.toLong
    val sv = Array.tabulate(d)(j => q.map(_(j)).sum)
    val m = Array.tabulate(d, d) { (j, k) =>
      BigInt(n) * q.map(v => v(j) * v(k)).sum - BigInt(sv(j)) * sv(k)
    }
    val pc = Similarity.embeddingPca.fn(spark, sfDir).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val v = Array.tabulate(d)(pc(_))
    val vmv = (for (j <- 0 until d; k <- 0 until d)
      yield m(j)(k) * v(j) * v(k)).sum
    val tr = (0 until d).map(j => m(j)(j)).sum
    val vtv2 = v.map(x => BigInt(x) * x).sum
    assert(BigInt(trace) == tr && BigInt(vtv) == vtv2)
    assert(BigInt(ratio) == (vmv * 1000000) / (tr * vtv2),
      s"ratio $ratio != ${(vmv * 1000000) / (tr * vtv2)}")
  }

  test("isolation audit equals a driver-side recompute over the served graph") {
    val got = Similarity.embeddingIsolation.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    val per = Similarity.knnGraphTable(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val expect = per.toSeq.map { case (src, sims) =>
      (src, sims.size.toLong, sims.max, sims.min)
    }.sortBy { case (src, _, best, _) => (best, src) }.take(20)
    assert(got.length == expect.length)
    got.zip(expect).zipWithIndex.foreach { case (((gv, gk, gb, gw, rnk), e), i) =>
      assert((gv, gk, gb, gw) == e, s"rank ${i + 1}: got ${(gv, gk, gb, gw)} want $e")
      assert(rnk == i + 1)
      assert(gw <= gb, "worst edge cannot beat best edge")
    }
  }

  test("Theil-Sen slope equals a brute-force pairwise median; robust to a planted spike") {
    val got = Events.theilSen.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val daily = Events.loadEvents(spark, sfDir)
      .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
      .agg(count(lit(1)).as("y")).collect()
      .groupBy(_.getString(1))
      .view.mapValues(_.map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)).toMap
    def median(series: Seq[(Long, Long)]): (Long, Double) = {
      val slopes = for {
        i <- series.indices; j <- (i + 1) until series.length
      } yield ((series(j)._2 - series(i)._2).toDouble /
        (series(j)._1 - series(i)._1).toDouble, series(i)._1, series(j)._1)
      val sorted = slopes.sortBy { case (sl, d1, d2) => (sl, d1, d2) }
      (slopes.length.toLong, sorted((slopes.length + 1) / 2 - 1)._1)
    }
    for ((t, series) <- daily if series.length > 1)
      assert(got(t) == median(series), s"$t: ${got(t)} vs ${median(series)}")
    // robustness: a 100x spike on one day moves the median slope far
    // less than the OLS slope on the same corrupted series
    val base = daily.values.maxBy(_.length)
    val spiked = base.updated(base.length / 2,
      (base(base.length / 2)._1, base(base.length / 2)._2 * 100))
    def ols(series: Seq[(Long, Long)]): Double = {
      val n = series.length.toDouble
      val (sx, sy) = (series.map(_._1.toDouble).sum, series.map(_._2.toDouble).sum)
      val sxy = series.map(p => p._1.toDouble * p._2).sum
      val sxx = series.map(p => p._1.toDouble * p._1).sum
      (n * sxy - sx * sy) / (n * sxx - sx * sx)
    }
    val tsShift = math.abs(median(spiked)._2 - median(base)._2)
    val olsShift = math.abs(ols(spiked) - ols(base))
    assert(tsShift < olsShift / 10,
      s"Theil-Sen moved $tsShift vs OLS $olsShift under the spike")
  }

  test("Benford audit conserves counts; constants sum to exactly 1e6; digits recompute") {
    val rows = StatsQueries.benford.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._4).sum == 1000000L, "Benford constants must sum to exactly 1e6")
    val cents = Tables.load(spark, sfDir, "orders")
      .select(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")).collect()
      .map(_.getLong(0))
    assert(rows.map(_._2).sum == cents.length.toLong, "every order counted once")
    val byDigit = cents.map(_.toString.head.asDigit.toLong)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach { case (d, n, share, exp, dev) =>
      assert(d >= 1 && d <= 9)
      assert(n == byDigit(d), s"digit $d: $n != ${byDigit(d)}")
      assert(share == n * 1000000 / cents.length)
      assert(dev == share - exp)
    }
  }

  test("cohort LTV conserves revenue; cumulative curves monotone; offset-0 full attendance") {
    val rows = graft.operators.Extended.cohortLtv.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val totalCents = Tables.load(spark, sfDir, "orders")
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")))
      .collect()(0).getLong(0)
    assert(rows.map(_._5).sum == totalCents, "period revenue must conserve the corpus total")
    val byCohort = rows.groupBy(_._1)
    for ((c, cells) <- byCohort) {
      val ordered = cells.sortBy(_._2)
      // every cohort member orders in their own first month
      assert(ordered.head._2 == 0 && ordered.head._3 == ordered.head._4,
        s"cohort $c offset 0 must include all ${ordered.head._4} members")
      // cumulative curve is the running sum of period revenue, and per-member is its div
      var cum = 0L
      ordered.foreach { case (_, off, nAct, n0, rev, cumRev, ltv) =>
        cum += rev
        assert(cumRev == cum, s"cohort $c offset $off cum $cumRev != $cum")
        assert(ltv == cum / n0)
        assert(nAct <= n0)
      }
    }
    val customers = Tables.load(spark, sfDir, "orders")
      .select("o_custkey").distinct().count()
    assert(byCohort.toSeq.map { case (_, cells) => cells.head._4 }.sum == customers,
      "cohort sizes must partition the customer set")
  }

  test("asof staleness buckets partition purchases and match a brute-force backward scan") {
    val got = Events.asofTolerance.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val e = Events.loadEvents(spark, sfDir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000000000").as("sec"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val viewsByUser = e.filter(_._2 == "view").groupBy(_._1)
      .view.mapValues(_.map(_._3).sorted).toMap
    val gaps = e.filter(_._2 == "purchase").map { case (u, _, t) =>
      viewsByUser.get(u).flatMap { vs =>
        val prior = vs.takeWhile(_ <= t)
        prior.lastOption.map(t - _)
      }
    }
    def bucket(g: Option[Long]): String = g match {
      case Some(x) if x <= 60 => "le_60s"
      case Some(x) if x <= 600 => "le_10m"
      case Some(x) if x <= 3600 => "le_1h"
      case Some(_) => "stale"
      case None => "missing"
    }
    val expect = gaps.groupBy(bucket).map { case (b, gs) =>
      val defined = gs.flatten
      b -> (gs.length.toLong,
        if (defined.isEmpty) None else Some(defined.min),
        if (defined.isEmpty) None else Some(defined.max))
    }
    assert(got == expect, s"got $got\nwant $expect")
    assert(got.values.map(_._1).sum == gaps.length.toLong,
      "buckets must partition the purchase set")
  }

  test("gini matches a BigInt brute-force over per-customer spend; concentration counts consistent") {
    val row = Extended.gini.fn(spark, sfDir).collect().head
    val spend = Tables.load(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")).as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val desc = spend.sortBy { case (k, c) => (-c, k) }.map(_._2)
    val n = BigInt(desc.length)
    val s = desc.map(BigInt(_)).sum
    val cum = desc.scanLeft(BigInt(0))(_ + _).tail
    val gini = (BigInt(2) * cum.sum - (n + 1) * s) * 1000000 / (n * s)
    assert(row.getAs[Long]("gini_x1e6") == gini.toLong)
    assert(row.getAs[Long]("n_customers") == n.toLong)
    assert(row.getAs[Long]("total_cents") == s.toLong)
    val nHalf = cum.zip(desc.map(BigInt(_))).count { case (c, x) => (c - x) * 2 < s }
    val n90 = cum.zip(desc.map(BigInt(_))).count { case (c, x) => (c - x) * 10 < s * 9 }
    assert(row.getAs[Long]("n_half_revenue") == nHalf.toLong)
    assert(row.getAs[Long]("n_90pct_revenue") == n90.toLong)
    val g = row.getAs[Long]("gini_x1e6")
    assert(g >= 0 && g < 1000000, s"gini out of [0,1): $g")
    assert(row.getAs[Long]("n_half_revenue") <= row.getAs[Long]("n_90pct_revenue"))
  }

  test("bloom-pruned join is exact vs the unpruned join; passes bound matches from above and corpus from below") {
    val got = graft.operators.Relational.joinBloomPrune.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val p = Tables.load(spark, sfDir, "part").where(col("p_size") <= 5)
      .select(col("p_partkey"), col("p_brand"))
    val li = Tables.load(spark, sfDir, "lineitem")
    val plain = li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.Portable.revenueTerm(
          col("l_extendedprice"), col("l_discount"))).cast("double").as("rev"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == plain, "bloom-pruned result must equal the plain join")
    val bloom = p.agg(
      graft.functions.Bloom.bloomAgg(col("p_partkey"), 1 << 17, 5).as("bf"))
    val passed = li.crossJoin(broadcast(bloom))
      .where(graft.functions.Bloom.bloomContains(col("bf"), col("l_partkey")))
      .count()
    val matches = li.join(p, col("l_partkey") === col("p_partkey")).count()
    assert(passed >= matches, "bloom must have no false negatives")
    assert(passed < li.count(), "bloom must prune on a selective dim")
  }

  test("yoy growth matches a brute-force calendar self-join; gap-safe on missing prior year") {
    val got = Extended.yoyGrowth.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val monthly = Tables.load(spark, sfDir, "orders")
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
        .cast("long").as("m"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val expect = monthly.map { case (m, rev) =>
      val prev = monthly.get(m - 12)
      def trunc(a: BigInt, b: BigInt): Long = (a / b).toLong // BigInt / truncates toward zero
      m -> (rev, prev, prev.filter(_ != 0L)
        .map(p => trunc(BigInt(rev - p) * 1000000, BigInt(p))))
    }
    assert(got == expect, s"yoy mismatch")
  }

  test("audio VAD through the real decode arm matches the generative-formula ground truth") {
    val got = graft.operators.Multimodal.audioVad.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val expect = (0 until 8).map { i =>
      val n = 800 + 200 * i
      val frames = (0 until n).map { t =>
        val f = t / 200
        val v: Long = if ((f.toLong * f) % 7 < 2) 0L
          else ((t.toLong * (7 + 2 * i) + 13 * i) % 2001) - 1000
        (f.toLong, v * v)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val silent = frames.filter(_._2 == 0L).keys.toSeq.sorted
      val active = frames.filter(_._2 != 0L).keys
      val runs = silent.foldLeft(List.empty[(Long, Long)]) {
        case ((st, len) :: rest, f) if f == st + len => (st, len + 1) :: rest
        case (acc, f) => (f, 1L) :: acc
      }
      i.toLong -> (frames.size.toLong, silent.length.toLong,
        active.min, active.max,
        if (runs.isEmpty) 0L else runs.map(_._2).max)
    }.toMap
    assert(got == expect, s"got $got\nwant $expect")
    assert(got.values.exists(_._5 >= 3), "interior silent runs of 3 must appear")
  }

  test("Holt-Winters matches a sequential Scala fold with calendar-dow seasonal state") {
    val got = Events.holtWinters.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val daily = Events.loadEvents(spark, sfDir)
      .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
      .agg(count(lit(1)).as("y"))
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    def div2(x: Long): Long = x / 2 // Long / truncates toward zero
    val expect = daily.groupBy(_._1).collect { case (et, rows) if rows.length >= 7 =>
      val es = rows.map(t => (t._2, t._3)).sortBy(_._1)
      val init = es.take(7)
      val l0 = init.map(_._2).sum * 1000 / 7
      val s = Array.fill(7)(0L)
      init.foreach { case (d, y) => s(((d + 3) % 7).toInt) = y * 1000 - l0 }
      var l = l0; var t = 0L
      es.drop(7).foreach { case (d, y) =>
        val j = ((d + 3) % 7).toInt
        val lp = div2((y * 1000 - s(j)) + l + t)
        val tp = div2((lp - l) + t)
        s(j) = div2((y * 1000 - lp) + s(j))
        l = lp; t = tp
      }
      val lastDay = es.last._1
      def fc(h: Int): Long = l + h * t + s(((lastDay + h + 3) % 7).toInt)
      et -> (es.length.toLong, l, t, fc(1), fc(2), fc(3))
    }
    assert(got == expect, s"got $got\nwant $expect")
    assert(got.nonEmpty && got.values.forall(_._1 == 30L))
  }

  test("order aging buckets partition the orders table and respect boundaries") {
    val rows = Extended.orderAging.fn(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
    val total = Tables.load(spark, sfDir, "orders").count()
    assert(rows.map(_._2._1).sum == total, "buckets must partition all orders")
    val bounds = Map("0_30d" -> (0L, 30L), "31_90d" -> (31L, 90L),
      "91_365d" -> (91L, 365L), "over_1y" -> (366L, Long.MaxValue))
    rows.foreach { case ((_, b), (_, _, oldest)) =>
      val (lo, hi) = bounds(b)
      assert(oldest >= lo && oldest <= hi, s"bucket $b oldest $oldest out of [$lo,$hi]")
    }
    val brute = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderstatus"), expr("cast(unix_date(cast(o_orderdate as date)) as bigint)").as("day"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val refDay = brute.map(_._2).max
    def bucket(a: Long) = if (a <= 30) "0_30d" else if (a <= 90) "31_90d"
      else if (a <= 365) "91_365d" else "over_1y"
    val expect = brute.groupBy(t => (t._1, bucket(refDay - t._2))).map { case (k, g) =>
      k -> (g.length.toLong, g.map(_._3).sum, g.map(refDay - _._2).max)
    }
    assert(rows.toMap == expect, "aging rollup must match brute force")
  }

  test("seasonal anomaly flags match a med/MAD recompute over the decomposition residuals") {
    val got = Events.anomalySeasonal.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toMap
    val resid = Events.seasonalDecompose.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    def lowerMedian(vs: Seq[(Long, Long)]): Long = { // (value, day) total order
      val sorted = vs.sortBy(identity)
      sorted((sorted.length + 1) / 2 - 1)._1
    }
    val expect = resid.groupBy(_._1).flatMap { case (et, rows) =>
      val med = lowerMedian(rows.map(t => (t._4, t._2)).toSeq)
      val mad = lowerMedian(rows.map(t => (math.abs(t._4 - med), t._2)).toSeq)
      rows.toSeq.map { case (_, day, y, rv) =>
        (et, day) -> ((y, rv, med, mad,
          math.abs(rv - med) * 10000 > 3L * 14826 * mad))
      }
    }.toMap
    assert(got == expect)
    assert(got.nonEmpty && got.values.exists(!_._5), "non-anomalous days must exist")
  }

  test("CDC chunk dedup matches a Scala chunker recompute; boundaries re-sync after a front edit") {
    def h60(x: String): Long = {
      val b = x.getBytes("UTF-8")
      graft.functions.Md5Hash60Util.hash60(b, 0, b.length)
    }
    def chunks(text: String): Seq[(Long, Long)] = {
      val tk = text.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
      val t = tk.length
      val g = if (t >= 3) (0 to t - 3).map(gp => h60(tk.slice(gp, gp + 3).mkString(" ")))
        else Seq.empty
      val cuts = g.zipWithIndex.collect { case (gh, gi) if gh % 8 == 0 && gi + 3 < t => gi + 3 }
      val bounds = 0 +: cuts :+ t
      bounds.sliding(2).map { case Seq(a, b) =>
        (h60(tk.slice(a, b).mkString(" ")), (b - a).toLong)
      }.toSeq
    }
    val got = graft.operators.Dedup.cdcChunks.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val allChunks = docs.flatMap { case (id, txt) => chunks(txt).map(c => (id, c)) }
    val expect = allChunks.groupBy(_._2._1).collect {
      case (h, occ) if occ.map(_._1).distinct.length >= 2 =>
        h -> (occ.map(_._1).distinct.length.toLong, occ.length.toLong, occ.map(_._2._2).max)
    }
    assert(got == expect, "cross-doc chunk rollup must match the Scala chunker")
    assert(got.nonEmpty, "the corpus must contain cross-document chunks")
    val longest = docs.maxBy(_._2.length)._2
    val o = chunks(longest); val e = chunks("zzzedit " + longest)
    val resync = o.reverse.zip(e.reverse).takeWhile { case (a, b) => a == b }.size
    assert(resync >= o.size - 2, s"CDC must re-sync after a front edit: $resync of ${o.size}")
  }

  test("salted join result equals the plain join and the salt reaches the shuffle keys") {
    val got = graft.operators.Relational.joinSalted.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val plain = Tables.load(spark, sfDir, "orders")
      .join(Tables.load(spark, sfDir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == plain, "salting must not change the join result")
    val joined = graft.operators.SkewJoin.saltedEquiJoin(
      Tables.load(spark, sfDir, "orders"), "o_custkey", "o_orderkey",
      Tables.load(spark, sfDir, "customer").hint("shuffle_hash"), "c_custkey")
    assert(joined.queryExecution.optimizedPlan.toString.contains("_salt"),
      "the salt column must participate in the join keys")
  }

  test("csv roundtrip preserves every nation row bit-for-bit and the rollup matches parquet") {
    val got = graft.sources.SourceQueries.csvRoundtrip.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val plain = Tables.load(spark, sfDir, "nation")
      .join(Tables.load(spark, sfDir, "region"), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n"), sum(col("n_nationkey").cast("long")).as("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == plain)
    val n = Tables.load(spark, sfDir, "nation")
    val fp = graft.sources.Snapshots.fileFingerprint(s"$sfDir/nation.parquet")
    val path = s"${Roots.scratch}/csvsink/" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val ver = graft.sources.Snapshots.ensureIndex(path, fp) { out =>
      n.write.option("header", "true").csv(out)
    }
    val back = spark.read.option("header", "true").schema(n.schema)
      .csv(graft.sources.Snapshots.versionDirs(path, ver): _*)
      .collect().map(_.toSeq).toSet
    assert(back == n.collect().map(_.toSeq).toSet, "row fidelity through the CSV sink")
  }

  test("power-law buckets match a brute-force log2 histogram; bucket bounds hold") {
    val got = Events.powerLaw.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val per = Events.loadEvents(spark, sfDir).groupBy("user_id")
      .agg(count(lit(1)).as("n")).collect().map(_.getLong(1))
    val nu = per.length.toLong; val ne = per.sum
    val expect = per.groupBy(n => 63L - java.lang.Long.numberOfLeadingZeros(n))
      .map { case (k, g) =>
        k -> (g.length.toLong, g.sum, g.min, g.max,
          g.length.toLong * 1000000 / nu, g.sum * 1000000 / ne)
      }
    assert(got == expect)
    got.foreach { case (k, (_, _, mn, mx, _, _)) =>
      assert(mn >= (1L << k) && mx < (1L << (k + 1)),
        s"bucket $k bounds violated: [$mn,$mx]")
    }
  }

  test("per-dimension embedding audit matches a BigInt variance recompute; shares bounded") {
    val got = Similarity.embeddingDimAudit.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toMap
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(x => math.floor(x.toDouble * 1000 + 0.5).toLong))
    val dims = vecs.head.length
    val varnums = (0 until dims).map { d =>
      val xs = vecs.map(_(d))
      val n = BigInt(xs.length); val s = xs.map(BigInt(_)).sum
      val ss = xs.map(x => BigInt(x) * x).sum
      d.toLong -> (n * ss - s * s, xs.min, xs.max, xs.length.toLong)
    }.toMap
    val tot = varnums.values.map(_._1).sum
    val expect = varnums.map { case (d, (v, mn, mx, n)) =>
      d -> (n, mn, mx, (v * 1000000 / tot).toLong, v == 0)
    }
    assert(got == expect)
    assert(got.values.map(_._4).sum <= 1000000L, "truncated shares cannot exceed 1e6")
    assert(got.size == dims)
  }

  test("the IVF index's committed centroids are ivfTrain's seeds plus one Lloyd round") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val (cents, _) = Similarity.ivfIndex(spark, sfDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val trained = Similarity.ivfTrain(e, Similarity.cCountOf(e.count()), 1)
    assert(rows(cents).nonEmpty && rows(cents) == rows(trained))
  }

  test("IVF balance audit matches a brute-force rollup of the persisted lists") {
    val got = Similarity.ivfBalance.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val (_, lists) = Similarity.ivfIndex(spark, sfDir)
    val sizes = lists
      .groupBy("cid").agg(count(lit(1)).as("sz"))
      .collect().map(_.getLong(1))
    val nl = sizes.length.toLong; val nv = sizes.sum; val mx = sizes.max
    val skew = mx * nl * 1000 / nv
    val expect = sizes.groupBy(sz => 63L - java.lang.Long.numberOfLeadingZeros(sz))
      .map { case (k, g) =>
        k -> (g.length.toLong, g.sum, g.min, g.max, skew)
      }
    assert(got == expect)
    assert(got.values.map(_._2).sum == nv, "bucket vector mass must cover the corpus")
    assert(skew >= 1000L, "max/mean is at least 1")
  }

  test("HLL rolling distinct: flags all true, exact side matches the exact query, sketches stay small") {
    val rows = Events.rollingDauHll.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.nonEmpty && rows.forall(_._3), "every estimate must be within 15%")
    val exact = Events.rollingDau.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows.map(t => t._1 -> t._2).toMap == exact,
      "the exact companion must equal q_events_rolling_dau's wau7")
    val skBytes = Events.loadEvents(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
      .groupBy("day").agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      .select(max(octet_length(col("sk")))).head().getInt(0)
    assert(skBytes < 16384, s"daily sketch must stay kB-scale, got $skBytes bytes")
  }

  test("SCD2 point-in-time lookup matches a per-user state-machine replay") {
    val got = Events.scd2Lookup.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val e = Events.loadEvents(spark, sfDir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000000000").as("t"),
        col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byUser = e.groupBy(_._1)
    val lookups = e.filter(_._2 == "purchase").map { case (u, _, t, _) =>
      val runs = byUser(u).sortBy(ev => (ev._3, ev._4))
        .foldLeft(List.empty[(String, Long)]) { (acc, ev) =>
          if (acc.headOption.exists(_._1 == ev._2)) acc else (ev._2, ev._3) :: acc
        }.reverse
      val intervals = runs.zip(runs.drop(1).map(r => Some(r._2)) :+ None)
      val state = intervals.collectFirst {
        case ((a, from), to) if from <= t - 1 && to.forall(t - 1 < _) => a
      }
      (u, state.getOrElse("none"))
    }
    val expect = lookups.groupBy(_._2).map { case (st, g) =>
      st -> (g.length.toLong, g.map(_._1).distinct.length.toLong)
    }
    assert(got == expect, s"got $got\nwant $expect")
    assert(got.values.map(_._1).sum == lookups.length.toLong,
      "every purchase resolves exactly one state")
  }

  test("winnowing matches a Scala recompute; a 6+-token verbatim overlap always shares a fingerprint") {
    def h60(x: String): Long = {
      val b = x.getBytes("UTF-8")
      graft.functions.Md5Hash60Util.hash60(b, 0, b.length)
    }
    def winners(text: String): Set[(Int, Long)] = {
      val tk = text.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
      val g = if (tk.length >= 3)
        (0 to tk.length - 3).map(i => h60(tk.slice(i, i + 3).mkString(" ")))
      else Seq.empty
      (0 to g.length - 4).map { j =>
        (j until j + 4).map(p => (g(p), p)).minBy { case (h, p) => (h, -p) }
      }.map { case (h, p) => (p, h) }.toSet
    }
    val got = graft.operators.Dedup.winnow.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val sel = docs.flatMap { case (id, t) =>
      winners(t).toSeq.map { case (pos, h) => (id, pos, h) }
    }
    val expect = sel.groupBy(_._3).collect {
      case (h, occ) if occ.map(_._1).distinct.length >= 2 =>
        h -> (occ.map(_._1).distinct.length.toLong, occ.length.toLong)
    }
    assert(got == expect, "cross-doc fingerprint rollup must match the Scala winnower")
    assert(got.nonEmpty, "the near-dup corpus must share fingerprints")
    val span = docs.maxBy(_._2.length)._2.split(" ").filter(_.nonEmpty).slice(10, 18).mkString(" ")
    val a = winners("totally different leading words here " + span)
    val b = winners(span + " and then some other trailing content")
    assert(a.map(_._2).intersect(b.map(_._2)).nonEmpty,
      "winnowing guarantee: >= w+k-1 token overlap must share a fingerprint")
  }

  test("PQ code balance matches a Scala encode recompute; masses cover the corpus") {
    val got = Similarity.pqCodeBalance.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000 + 0.5).toLong)))
    val M = 8; val sub = 8; val K = 8
    val cb = vecs.filter(_._1 < K).sortBy(_._1)
      .map { case (id, q) => id -> (0 until M).map(m => q.slice(m * sub, m * sub + sub)) }
    val usage = scala.collection.mutable.Map.empty[(Int, Long), Long]
    vecs.foreach { case (_, q) =>
      (0 until M).foreach { m =>
        val sq = q.slice(m * sub, m * sub + sub)
        val best = cb.map { case (k, s) =>
          val d = sq.zip(s(m)).map { case (a, b) => (a - b) * (a - b) }.sum
          (d, k)
        }.min
        usage((m, best._2)) = usage.getOrElse((m, best._2), 0L) + 1
      }
    }
    val expect = usage.groupBy(_._1._1).map { case (m, g) =>
      val ns = g.values.toSeq
      m.toLong -> (ns.length.toLong, (K - ns.length).toLong, ns.sum,
        ns.min, ns.max, ns.max * ns.length * 1000 / ns.sum)
    }
    assert(got == expect)
    assert(got.values.forall(_._3 == vecs.length.toLong),
      "each subspace encodes every vector exactly once")
  }

  test("video shot detection finds exactly the planted boundaries with wide separation") {
    val rows = graft.operators.Multimodal.videoShots.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    val boundaries = rows.map(t => (t._1, t._2)).toSet
    val planted = (for {
      v <- 0 until 2; f <- 1 until 24
      if (f / (6 + v)) % 5 != ((f - 1) / (6 + v)) % 5
    } yield (v.toLong, f.toLong)).toSet
    assert(boundaries == planted, s"got $boundaries want $planted")
    assert(rows.forall(t => math.abs(t._3) >= 30000),
      "planted jumps must be far above the 15000 threshold")
  }

  test("bot cadence matches a BigInt CV^2 recompute over per-user gaps") {
    val got = Events.botCadence.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toList
    val e = Events.loadEvents(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000000000").as("sec"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = e.groupBy(_._1).toSeq.flatMap { case (u, evs) =>
      val secs = evs.sortBy(t => (t._2, t._3)).map(_._2)
      val gaps = secs.zip(secs.drop(1)).map { case (a, b) => b - a }
      if (gaps.length < 9) None
      else {
        val ng = BigInt(gaps.length); val sp = gaps.map(BigInt(_)).sum
        val ssq = gaps.map(g => BigInt(g) * g).sum
        val rv = if (sp == 0) None
          else Some(((ng * ssq - sp * sp) * 1000000 / (sp * sp)).toLong)
        Some((u, gaps.length.toLong + 1, sp.toLong, rv))
      }
    }.sortBy(t => (t._4.isEmpty, t._4.getOrElse(0L), t._1)).take(20)
    assert(got == expect, s"got $got\nwant $expect")
    assert(got.nonEmpty)
  }

  test("column correlations equal a BigInt moment recompute bit-for-bit; |r| <= 1") {
    val got = StatsQueries.columnCorr.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val rows = Tables.load(spark, sfDir, "lineitem").select(
      expr("cast(l_quantity as bigint)"),
      expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)"),
      expr("cast(floor(l_discount * 100 + 0.5) as bigint)"))
      .collect().map(r => (BigInt(r.getLong(0)), BigInt(r.getLong(1)), BigInt(r.getLong(2))))
    def pearson(xs: Seq[BigInt], ys: Seq[BigInt]): Double = {
      val n = BigInt(xs.length)
      val sx = xs.sum; val sy = ys.sum
      val sxx = xs.map(v => v * v).sum; val syy = ys.map(v => v * v).sum
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      (n * sxy - sx * sy).toDouble /
        (math.sqrt((n * sxx - sx * sx).toDouble) * math.sqrt((n * syy - sy * sy).toDouble))
    }
    val expect = Map(
      "qty_price" -> pearson(rows.map(_._1), rows.map(_._2)),
      "price_discount" -> pearson(rows.map(_._2), rows.map(_._3)),
      "qty_discount" -> pearson(rows.map(_._1), rows.map(_._3)))
    expect.foreach { case (k, r) =>
      assert(got(k)._1 == rows.length.toLong)
      assert(got(k)._2 == r, s"$k: ${got(k)._2} != $r")
      assert(math.abs(r) <= 1.0)
    }
  }

  test("bucketed join runs with ZERO exchanges and matches the plain join") {
    val got = graft.operators.Relational.joinBucketed.fn(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val plain = Tables.load(spark, sfDir, "lineitem")
      .join(Tables.load(spark, sfDir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)")).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == plain)
    val fp = graft.sources.Snapshots.fileFingerprint(s"$sfDir/lineitem.parquet")
    val suffix = (sfDir + "_" + fp).replaceAll("[^A-Za-z0-9]", "_")
    val joined = spark.table(s"li_bkt_$suffix").hint("merge")
      .join(spark.table(s"ord_bkt_$suffix"), col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
  }

  test("SRM guardrail matches a brute-force recompute and flags a planted imbalance") {
    val got = Events.srm.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val fs = Events.loadEvents(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expect = fs.toSeq.groupBy(_._2).map { case (day, us) =>
      val na = us.count(_._1 % 2 == 0).toLong; val nb = us.size - na
      day -> (na, nb, (na - nb) * (na - nb) * 1000 / (na + nb),
        (na - nb) * (na - nb) * 100 > 384 * (na + nb))
    }
    assert(got == expect)
    def flag(na: Long, nb: Long): Boolean = (na - nb) * (na - nb) * 100 > 384 * (na + nb)
    assert(flag(600, 400) && !flag(510, 490),
      "the chi-square cut must fire on a real imbalance and stay quiet near parity")
  }

  test("HW backtest matches a sequential fold with out-of-sample error accounting") {
    val got = Events.hwBacktest.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    val daily = Events.loadEvents(spark, sfDir)
      .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
      .agg(count(lit(1)).as("y"))
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    def div2(x: Long): Long = x / 2
    val expect = daily.groupBy(_._1).collect { case (et, rows) if rows.length >= 8 =>
      val es = rows.map(t => (t._2, t._3)).sortBy(_._1)
      val init = es.take(7)
      val l0 = init.map(_._2).sum * 1000 / 7
      val sArr = Array.fill(7)(0L)
      init.foreach { case (d, y) => sArr(((d + 3) % 7).toInt) = y * 1000 - l0 }
      var l = l0; var t = 0L; var efc = 0L; var en = 0L
      var pv = init.last._2 * 1000
      es.drop(7).foreach { case (d, y) =>
        val j = ((d + 3) % 7).toInt
        efc += math.abs(l + t + sArr(j) - y * 1000)
        en += math.abs(y * 1000 - pv)
        val lp = div2((y * 1000 - sArr(j)) + l + t)
        val tp = div2((lp - l) + t)
        sArr(j) = div2((y * 1000 - lp) + sArr(j))
        l = lp; t = tp; pv = y * 1000
      }
      et -> ((es.length - 7).toLong, efc, en,
        if (en == 0) None else Some(efc * 1000 / en))
    }
    assert(got == expect, s"got $got\nwant $expect")
    assert(got.nonEmpty)
  }

  test("dataset card matches a brute-force per-source recompute") {
    val got = TextFunctions.datasetCard.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toMap
    val docs = Tables.load(spark, sfDir, "documents")
      .select("source", "lang", "text", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    val expect = docs.groupBy(_._1).map { case (src, g) =>
      val n = g.length.toLong
      val chars = g.map(_._4).sum
      val toks = g.map(_._3.split(" ").count(_.nonEmpty).toLong).sum
      val byLang = g.groupBy(_._2).values.map(_.length.toLong).toSeq
      val eff = byLang.sum * byLang.sum * 1000 / byLang.map(x => x * x).sum
      val dups = n - g.map(_._3).distinct.length
      src -> (n, chars, toks, chars / n, byLang.length.toLong, eff, dups,
        dups * 1000000 / n)
    }
    assert(got == expect, s"got $got\nwant $expect")
    assert(got.nonEmpty && got.values.forall(v => v._6 >= 1000),
      "effective languages is at least 1")
  }

  test("selectivity estimates match a BigInt histogram recompute; range errors stay small") {
    val got = StatsQueries.selectivityEval.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val vs = Tables.load(spark, sfDir, "lineitem")
      .select(expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)"))
      .collect().map(_.getLong(0))
    val lo = vs.min; val hi = vs.max; val n = vs.length.toLong
    val cnt = vs.groupBy(v => math.min(15L, 16 * (v - lo) / (hi - lo)))
      .view.mapValues(_.length.toLong).toMap
    def estLt(pv: Long) = (cnt.map { case (b, c) =>
      BigInt(c) * (BigInt(hi - lo).min(BigInt(0).max(BigInt(16) * (pv - lo) - b * (hi - lo))))
    }.sum * 1000000 / (BigInt(n) * (hi - lo))).toLong
    def estGt(pv: Long) = (cnt.map { case (b, c) =>
      BigInt(c) * (BigInt(hi - lo).min(BigInt(0).max(BigInt(b + 1) * (hi - lo) - BigInt(16) * (pv - lo))))
    }.sum * 1000000 / (BigInt(n) * (hi - lo))).toLong
    def estEq(pv: Long) = {
      if (pv < lo || pv > hi) 0L
      else {
        val c = BigInt(cnt.getOrElse(math.min(15L, 16 * (pv - lo) / (hi - lo)), 0L))
        val r = if (hi - lo >= 16) c * 16000000 / (BigInt(n) * (hi - lo))
          else c * 1000000 / n
        r.min(BigInt(1000000)).toLong
      }
    }
    def actual(cond: Long => Boolean) = vs.count(cond).toLong * 1000000 / n
    val expect = Map(
      "lt_20000_00" -> (n, estLt(2000000), actual(_ < 2000000)),
      "gt_50000_00" -> (n, estGt(5000000), actual(_ > 5000000)),
      "eq_30000_00" -> (n, estEq(3000000), actual(_ == 3000000)))
    expect.foreach { case (k, (en, est, act)) =>
      assert(got(k) == ((en, est, act, est - act)), s"$k: ${got(k)} != ($en,$est,$act)")
    }
    assert(math.abs(got("lt_20000_00")._4) <= 100000 &&
      math.abs(got("gt_50000_00")._4) <= 100000,
      "range-predicate estimates must land within 10% absolute selectivity")
  }

  test("l-diversity rollup matches brute force and groups partition the corpus") {
    val got = TextFunctions.lDiversity.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    val docs = Tables.load(spark, sfDir, "documents")
      .select("source", "n_chars", "lang").collect()
      .map(r => (r.getString(0), r.getLong(1) / 500, r.getString(2)))
    val expect = docs.groupBy(t => (t._1, t._2)).values
      .map(g => (g.map(_._3).distinct.length.toLong, g.length.toLong)).toSeq
      .groupBy(_._1).map { case (l, gs) =>
        l -> (gs.length.toLong, gs.map(_._2).sum, l < 2)
      }
    assert(got == expect)
    assert(got.values.map(_._2).sum == docs.length.toLong,
      "groups must partition the corpus")
  }

  test("windowed funnel matches a per-user greedy replay; counts are monotone") {
    val got = Events.funnelWindowed.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val e = Events.loadEvents(spark, sfDir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000000000").as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = e.groupBy(_._1)
    val W = 86400L
    val steps = byUser.toSeq.flatMap { case (_, evs) =>
      val views = evs.filter(_._2 == "view").map(_._3)
      if (views.isEmpty) None
      else {
        val t1 = views.min
        val t2 = evs.filter(ev => ev._2 == "click" && ev._3 > t1 && ev._3 <= t1 + W)
          .map(_._3).sorted.headOption
        val t3 = t2.flatMap(t => evs
          .filter(ev => ev._2 == "purchase" && ev._3 > t && ev._3 <= t + W)
          .map(_._3).sorted.headOption)
        Some((1, t2.isDefined, t3.isDefined))
      }
    }
    val n1 = steps.length.toLong
    val n2 = steps.count(_._2).toLong
    val n3 = steps.count(_._3).toLong
    assert(got("1_view") == ((n1, 1000000L)))
    assert(got("2_click_24h") == ((n2, n2 * 1000000 / n1)))
    assert(got("3_purchase_24h") == ((n3, n3 * 1000000 / n1)))
    assert(n1 >= n2 && n2 >= n3 && n2 > 0, "funnel must be monotone and non-trivial")
  }

  test("vocab growth matches brute force; curve is monotone and ends at the full vocabulary") {
    val got = TextFunctions.vocabGrowth.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .sortBy(_._1).toList
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val loId = docs.map(_._1).min; val hiId = docs.map(_._1).max
    val decOf = docs.map { case (id, t) =>
      ((id - loId) * 10 / (hiId - loId + 1),
        t.toLowerCase.split(" ").filter(_.nonEmpty).toSet)
    }
    val firstSeen = scala.collection.mutable.Map.empty[String, Long]
    decOf.foreach { case (dec, ws) =>
      ws.foreach(w => if (!firstSeen.contains(w)) firstSeen(w) = dec
        else if (firstSeen(w) > dec) firstSeen(w) = dec)
    }
    val newWords = firstSeen.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val docsPerDec = decOf.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var dc = 0L; var vc = 0L
    val expect = docsPerDec.keys.toList.sorted.map { dec =>
      dc += docsPerDec(dec); vc += newWords.getOrElse(dec, 0L)
      dec -> (dc, newWords.getOrElse(dec, 0L), vc)
    }
    assert(got == expect, s"got $got\nwant $expect")
    assert(got.last._2._3 == firstSeen.size.toLong,
      "final cumulative vocab must equal the full vocabulary")
    assert(got.map(_._2._3) == got.map(_._2._3).sorted, "curve must be monotone")
  }

  test("growth accounting satisfies the DAU identity and matches a per-user replay") {
    val rows = Events.growthAccounting.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val ud = Events.loadEvents(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byUser = ud.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val expect = scala.collection.mutable.Map.empty[Long, (Long, Long, Long, Long)]
      .withDefaultValue((0L, 0L, 0L, 0L))
    byUser.values.foreach { days =>
      days.zipWithIndex.foreach { case (d, i) =>
        val (nw, rt, rs, ch) = expect(d)
        if (i == 0) expect(d) = (nw + 1, rt, rs, ch)
        else if (days(i - 1) == d - 1) expect(d) = (nw, rt + 1, rs, ch)
        else expect(d) = (nw, rt, rs + 1, ch)
        if (i == days.length - 1 || days(i + 1) > d + 1) {
          val (nw2, rt2, rs2, ch2) = expect(d + 1)
          expect(d + 1) = (nw2, rt2, rs2, ch2 + 1)
        }
      }
    }
    val expectActive = expect.toMap.filter(t => rows.contains(t._1))
    assert(rows == expectActive, s"diff: ${rows.toSet.diff(expectActive.toSet)}")
    // DAU identity: dau_d = new + retained + resurrected, and
    // dau_d - dau_{d-1} = new + resurrected - churned on dense days
    val dau = ud.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    rows.foreach { case (d, (nw, rt, rs, ch)) =>
      assert(dau(d) == nw + rt + rs, s"day $d DAU identity broken")
      dau.get(d - 1).foreach { prev =>
        assert(dau(d) - prev == nw + rs - ch, s"day $d delta identity broken")
      }
    }
  }

  test("SLO burn matches a brute-force hourly recompute; page is the conjunction") {
    val got = Events.sloBurn.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toMap
    val ev = Events.loadEvents(spark, sfDir)
      .select(expr("ts div 1000000000 div 3600").as("h"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val hourly = ev.groupBy(_._1).map { case (h, g) =>
      h -> (g.length.toLong, g.count(_._2 == "error").toLong)
    }
    val expect = hourly.map { case (h, (n, e)) =>
      val win = hourly.filter(t => t._1 >= h - 5 && t._1 <= h)
      val ev6 = win.values.map(_._1).sum; val er6 = win.values.map(_._2).sum
      val b1 = e * 100000 / n; val b6 = er6 * 100000 / ev6
      h -> (n, e, b1, b6, b1 > 14400 && b6 > 6000)
    }
    assert(got == expect)
    assert(got.nonEmpty && got.values.forall(v => v._3 >= 0))
  }

  test("Dn retention matches a per-user replay with censoring-aware eligibility") {
    val got = Events.retentionDn.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val ud = Events.loadEvents(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val maxDay = ud.map(_._2).max
    val byUser = ud.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    Seq(1, 7, 14).foreach { n =>
      val elig = byUser.filter { case (_, days) => days.min + n <= maxDay }
      val ret = elig.count { case (_, days) => days.contains(days.min + n) }
      val exp = (elig.size.toLong, ret.toLong, ret.toLong * 1000000 / elig.size)
      assert(got(s"d$n") == exp, s"d$n: ${got(s"d$n")} != $exp")
    }
    assert(got("d1")._1 >= got("d7")._1 && got("d7")._1 >= got("d14")._1,
      "eligibility shrinks with the horizon")
  }

  test("dow effect size matches a BigInt ANOVA recompute; eta2 in [0, 1e6]") {
    val got = Events.dowEffect.fn(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val daily = Events.loadEvents(spark, sfDir)
      .groupBy(expr("ts div 1000000000 div 86400").as("day"), col("event_type"))
      .agg(count(lit(1)).as("y"))
      .collect().map(r => (r.getString(1), (r.getLong(0) + 3) % 7, r.getLong(2)))
    val expect = daily.groupBy(_._1).map { case (et, rows) =>
      val nn = BigInt(rows.length)
      val ss = rows.map(t => BigInt(t._3)).sum
      val ssq = rows.map(t => BigInt(t._3) * t._3).sum
      val groups = rows.groupBy(_._2).values
        .map(g => (BigInt(g.length), g.map(t => BigInt(t._3)).sum)).toSeq
      val k = BigInt(groups.length)
      val p = groups.map(_._1).product
      val a = groups.map { case (n, sg) => sg * sg * (p / n) }.sum
      val num = nn * a - ss * ss * p
      val denT = nn * p * ssq - ss * ss * p
      val denW = nn * p * ssq - nn * a
      val eta = (num * 1000000 / denT).toLong
      val f = (num * (nn - k) * 1000 / denW / (k - 1)).toLong
      et -> (nn.toLong, k.toLong, eta, f)
    }
    assert(got == expect, s"got $got\nwant $expect")
    got.values.foreach { case (_, _, eta, _) =>
      assert(eta >= 0 && eta <= 1000000, s"eta2 out of range: $eta")
    }
  }

  test("graph in-degree profile matches a brute-force rollup of the persisted edges") {
    val rows = Similarity.graphDegree.fn(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val edges = Similarity.knnGraphTable(spark, sfDir)
      .select("g_dst").collect().map(_.getLong(0))
    val nVecs = Tables.load(spark, sfDir, "embeddings").count()
    val indeg = edges.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nv = indeg.size.toLong; val ne = edges.length.toLong
    val skew = indeg.values.max * nv * 1000 / ne
    val expect = indeg.values.groupBy(d => 63L - java.lang.Long.numberOfLeadingZeros(d))
      .map { case (k, g) =>
        k -> (g.size.toLong, g.sum, g.min, g.max, skew)
      } ++ Map(-1L -> (nVecs - nv, 0L, 0L, 0L, skew))
    assert(rows == expect, s"got $rows\nwant $expect")
    assert(rows.map(_._2._1).sum == nVecs, "buckets + orphans must cover every vertex")
  }

  test("Kaplan-Meier survival equals a sequential Scala fold; curve monotone, risk telescopes") {
    val rows = Events.survival.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val ud = Events.loadEvents(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000000000 div 86400").as("day"))
      .groupBy("user_id").agg(min(col("day")).as("f"), max(col("day")).as("l"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val tmax = ud.map(_._2).max
    val users = ud.map { case (f, l) => (l - f, l >= tmax - 7) }
    val mt = users.map(_._1).max
    var s = 1000000000L
    val expect = (0L to mt).map { t =>
      val d = users.count(u => u._1 == t && !u._2).toLong
      val c = users.count(u => u._1 == t && u._2).toLong
      val n = users.count(_._1 >= t).toLong
      s = s * (n - d) / n
      (t, n, d, c, s)
    }
    assert(rows.toSeq == expect, s"first diff: ${
      rows.toSeq.zipAll(expect, null, null).find { case (a, b) => a != b }}")
    // survival is monotone non-increasing from <= 1e9; at-risk telescopes
    assert(rows.head._5 <= 1000000000L)
    rows.sliding(2).foreach {
      case Array((_, n0, d0, c0, s0), (_, n1, _, _, s1)) =>
        assert(s1 <= s0, s"survival rose: $s0 -> $s1")
        assert(n0 == n1 + d0 + c0, s"risk set must telescope: $n0 != $n1+$d0+$c0")
      case _ =>
    }
  }

  test("groupwise quantiles equal a brute-force per-group sort") {
    val got = SparkEntry.queries("q_groupwise_quantiles")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val byLang = Tables.load(spark, sfDir, "documents").select("lang", "n_chars")
      .collect().map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    assert(got.keySet == byLang.keySet)
    byLang.foreach { case (lang, xs) =>
      val v = xs.map(_._2).sorted
      val n = v.length.toLong
      val med = v(((n + 1) / 2 - 1).toInt)
      val p90 = v((math.max(1L, n * 9 / 10) - 1).toInt)
      assert(got(lang) == ((n, med, p90)),
        s"$lang: got ${got(lang)}, brute ($n, $med, $p90)")
    }
  }

  test("audience overlap equals brute-force set intersections") {
    val got = SparkEntry.queries("q_events_audience_overlap")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val sets = Tables.load(spark, sfDir, "events")
      .select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).distinct
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }
    val types = sets.keys.toSeq.sorted
    for (a <- types; b <- types if a < b) {
      val both = (sets(a) intersect sets(b)).size.toLong
      if (both > 0) {
        val (na, nb) = (sets(a).size.toLong, sets(b).size.toLong)
        val j = both * 1000000L / (na + nb - both)
        assert(got((a, b)) == ((na, nb, both, j)), s"pair ($a,$b)")
      } else assert(!got.contains((a, b)), s"pair ($a,$b) must not emit")
    }
  }

  test("user diversity grid equals a brute-force Gini-Simpson fold") {
    val got = SparkEntry.queries("q_events_user_diversity")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val byUser = Tables.load(spark, sfDir, "events")
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).groupBy(_._1)
    val cells = byUser.toSeq.map { case (_, xs) =>
      val n = xs.length.toLong
      val ss = xs.groupBy(_._2).values.map(g => g.length.toLong * g.length).sum
      val d = (n * n - ss) * 1000000L / (n * n)
      val tier = if (n == 1) "single" else if (n < 10) "low" else "high"
      ((tier, d / 100000L), d)
    }.groupBy(_._1)
    assert(got.keySet == cells.keySet)
    cells.foreach { case (k, xs) =>
      val ds = xs.map(_._2)
      assert(got(k) == ((ds.size.toLong, ds.sum / ds.size)), s"cell $k")
    }
  }

  test("linear attribution equals a brute-force credit split") {
    val got = SparkEntry.queries("q_events_attribution_linear")(spark, sfDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"), col("value"),
        expr("unix_micros(cast(ts as timestamp)) div 1000000").as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    val byUser = ev.groupBy(_._1)
    val credits = scala.collection.mutable.Map[String, (Long, Long)]()
    byUser.values.foreach { xs =>
      val touches = xs.filter(x => x._2 == "click" || x._2 == "view")
      xs.filter(_._2 == "purchase").foreach { p =>
        val cents = math.floor(p._3 * 100 + 0.5).toLong
        val w = touches.filter(x => x._4 >= p._4 - 604800L && x._4 < p._4)
        if (w.isEmpty) {
          val (c, v) = credits.getOrElse("direct", (0L, 0L))
          credits("direct") = (c + 1, v + cents * 1000)
        } else w.foreach { x =>
          val (c, v) = credits.getOrElse(x._2, (0L, 0L))
          credits(x._2) = (c + 1, v + cents * 1000 / w.length)
        }
      }
    }
    assert(got == credits.toMap, s"got $got, brute ${credits.toMap}")
  }

  test("nearest as-of equals a brute-force nearest-view scan") {
    val got = SparkEntry.queries("q_asof_nearest")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) div 1000000").as("sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val viewsBy = ev.filter(_._3 == "view").groupBy(_._2)
    ev.filter(_._3 == "purchase").foreach { p =>
      val vs = viewsBy.getOrElse(p._2, Array.empty).map(_._4)
      val expect = if (vs.isEmpty) None else {
        val best = vs.map(v => (math.abs(v - p._4), v)).min // min |gap|, then earlier v
        Some(best._2)
      }
      assert(got(p._1) == expect, s"purchase ${p._1}")
    }
  }

  test("Mann-Whitney U equals a brute-force tie-averaged rank sum") {
    val got = SparkEntry.queries("q_events_mannwhitney")(spark, sfDir).head()
    val obs = Tables.load(spark, sfDir, "events")
      .where(col("event_type") === "purchase")
      .select(expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"),
        (col("user_id") % 2).as("arm"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sorted = obs.sortBy(_._1)
    // doubled tie-averaged rank per observation: 2*avg(rank range)
    val r2 = sorted.zipWithIndex.groupBy(_._1._1).toSeq.flatMap { case (_, xs) =>
      val lo = xs.map(_._2).min + 1L
      val hi = xs.map(_._2).max + 1L
      xs.toSeq.map { case ((_, arm), _) => (arm, lo + hi) }
    }
    val nA = obs.count(_._2 == 0L).toLong
    val nB = obs.length - nA
    val rr2a = r2.collect { case (0L, v) => v }.sum
    val u2a = rr2a - nA * (nA + 1)
    val u2b = 2 * nA * nB - u2a
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3)) ==
      ((nA, nB, u2a, u2b)), s"got $got, brute ($nA, $nB, $u2a, $u2b)")
    assert(got.getLong(4) == 500L * math.abs(u2a - u2b) / (nA * nB))
    assert(got.getBoolean(5) == (u2a > u2b))
  }

  test("chi-square statistic equals a brute-force contingency fold over the FULL grid") {
    val got = SparkEntry.queries("q_events_chisq")(spark, sfDir).head()
    val cells = Tables.load(spark, sfDir, "events")
      .select(col("event_type"),
        expr("pmod(unix_micros(cast(ts as timestamp)) div 1000000 div 86400 + 3, 7)").as("dow"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val types = cells.keys.map(_._1).toSeq.distinct
    val dows = cells.keys.map(_._2).toSeq.distinct
    val n = cells.values.sum
    val rT = types.map(t => t -> cells.collect { case ((`t`, _), c) => c }.sum).toMap
    val cT = dows.map(d => d -> cells.collect { case ((_, `d`), c) => c }.sum).toMap
    val chi2 = (for (t <- types; d <- dows) yield {
      val o = BigInt(cells.getOrElse((t, d), 0L))
      val num = o * n - BigInt(rT(t)) * cT(d)
      (num * num * 1000) / (BigInt(n) * rT(t) * cT(d))
    }).sum
    assert(got.getLong(0) == n && got.getLong(1) == types.size &&
      got.getLong(2) == dows.size)
    assert(got.getLong(3) == (types.size - 1).toLong * (dows.size - 1))
    assert(BigInt(got.getLong(4)) == chi2, s"chi2 got ${got.getLong(4)}, brute $chi2")
  }

  test("encoding audit equals brute-force per-source regex counts") {
    val got = SparkEntry.queries("t_encoding_audit")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val docs = Tables.load(spark, sfDir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).groupBy(_._1)
    val ctrl = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]".r
    assert(got.keySet == docs.keySet)
    docs.foreach { case (src, xs) =>
      val texts = xs.map(_._2)
      val nonascii = texts.map(_.count(_ > 0x7F).toLong).sum
      val chars = texts.map(_.length.toLong).sum
      val expect = (texts.length.toLong,
        texts.count(_.contains('�')).toLong,
        texts.count(t => ctrl.findFirstIn(t).isDefined).toLong,
        nonascii, nonascii * 100000 / math.max(chars, 1))
      assert(got(src) == expect, s"$src: got ${got(src)}, brute $expect")
    }
  }

  test("similarity histogram equals a brute-force pairing over quantized cosines") {
    val got = SparkEntry.queries("s_similarity_histogram")(spark, sfDir)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray)
      .toMap
    val h = (vecs.keys.max + 1) / 2
    val sims = vecs.keys.toSeq.filter(a => a < h && vecs.contains(a + h)).map { a =>
      val (qa, qb) = (vecs(a), vecs(a + h))
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
      val na = qa.map(x => x * x).sum
      val nb = qb.map(x => x * x).sum
      dot.toDouble / math.sqrt(na.toDouble * nb.toDouble)
    }.filterNot(_.isNaN)
    val brute = sims.groupBy(s => math.floor(s * 10).toInt)
      .view.mapValues(xs => (xs.size.toLong, xs.min, xs.max)).toMap
    assert(got == brute, s"got $got, brute $brute")
  }

  test("share-of-parent ratios conserve: region shares sum to ~1e6, nation shares per region too") {
    val rows = SparkEntry.queries("q_share_of_parent")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // exact conservation up to truncation: each div truncates, so a
    // parent's child shares sum within |children| of 1e6
    rows.groupBy(_._1).foreach { case (region, xs) =>
      val s = xs.map(_._4).sum
      assert(s <= 1000000 && s > 1000000 - xs.length,
        s"$region nation shares sum to $s")
    }
    val regionShares = rows.groupBy(_._1).view.mapValues(_.head._5).toMap
    val rs = regionShares.values.sum
    assert(rs <= 1000000 && rs > 1000000 - regionShares.size,
      s"region shares sum to $rs")
    // and the absolute cents agree with a brute-force join
    def lv(r: org.apache.spark.sql.Row, i: Int): Long =
      r.getAs[Number](i).longValue()
    val cust = Tables.load(spark, sfDir, "customer")
      .select("c_custkey", "c_nationkey").collect()
      .map(r => lv(r, 0) -> lv(r, 1)).toMap
    val nat = Tables.load(spark, sfDir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey").collect()
      .map(r => lv(r, 0) -> ((r.getString(1), lv(r, 2)))).toMap
    val reg = Tables.load(spark, sfDir, "region")
      .select("r_regionkey", "r_name").collect()
      .map(r => lv(r, 0) -> r.getString(1)).toMap
    val brute = Tables.load(spark, sfDir, "orders")
      .select("o_custkey", "o_totalprice").collect()
      .map { r =>
        val (nName, rKey) = nat(cust(lv(r, 0)))
        ((reg(rKey), nName), math.floor(r.getDouble(1) * 100 + 0.5).toLong)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(rows.map(x => ((x._1, x._2), x._3)).toMap == brute)
  }

  test("Fano factor equals a brute-force dispersion fold over daily counts") {
    val got = SparkEntry.queries("q_events_fano")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val daily = Tables.load(spark, sfDir, "events")
      .select(col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) div 1000000 div 86400").as("day"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val byType = daily.groupBy(_._1._1)
    assert(got.keySet == byType.keySet)
    byType.foreach { case (t, cells) =>
      val ys = cells.values.toSeq
      val n = ys.length.toLong
      val s = ys.sum
      val ssq = ys.map(y => y * y).sum
      val fano = if (n <= 1 || s == 0) null
        else ((n * ssq - s * s) * 1000) / ((n - 1) * s)
      assert(got(t)._1 == n && got(t)._2 == s &&
        got(t)._3 == s * 1000 / n, s"$t counts")
      if (fano != null) assert(got(t)._4 == fano, s"$t fano")
    }
  }

  test("JSON key inventory equals a brute-force Jackson key scan") {
    val got = SparkEntry.queries("q_events_json_keys")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val ev = Tables.load(spark, sfDir, "events")
      .select("event_type", "props").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val totals = ev.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val counts = ev.flatMap { case (t, p) =>
      val keys = try {
        val node = om.readTree(p)
        if (node != null && node.isObject) {
          val it = node.fieldNames(); val buf = scala.collection.mutable.Buffer[String]()
          while (it.hasNext) buf += it.next()
          buf.toSeq
        } else Seq.empty[String]
      } catch { case _: Throwable => Seq.empty[String] }
      keys.map(k => (t, k))
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(got.keySet == counts.keySet)
    counts.foreach { case (tk, c) =>
      val n = totals(tk._1)
      assert(got(tk) == ((c, n, c * 1000 / n)), s"key $tk")
    }
  }

  test("prefix dedup equals a brute-force first-32-token hash grouping") {
    val got = SparkEntry.queries("d_dedup_prefix")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def h60(x: String): Long = {
      val b = x.getBytes("UTF-8")
      graft.functions.Md5Hash60Util.hash60(b, 0, b.length)
    }
    val docs = Tables.load(spark, sfDir, "documents")
      .select("text").collect().map(_.getString(0))
      .map(t => t.toLowerCase.split(" ").filter(_.nonEmpty))
      .filter(_.length >= 8)
      .map(tk => (h60(tk.take(32).mkString(" ")), tk.length.toLong))
    val brute = docs.groupBy(_._1).collect {
      case (h, xs) if xs.length >= 2 =>
        h -> ((xs.length.toLong, xs.map(_._2).min, xs.map(_._2).max))
    }
    assert(got == brute.toMap, s"got ${got.size} groups, brute ${brute.size}")
  }

  test("suffix-dup audit equals a brute-force last-32-token hash rollup per source") {
    val got = SparkEntry.queries("d_dedup_suffix")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def h60(x: String): Long = {
      val b = x.getBytes("UTF-8")
      graft.functions.Md5Hash60Util.hash60(b, 0, b.length)
    }
    val docs = Tables.load(spark, sfDir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty)))
      .filter(_._2.length >= 8)
      .map { case (src, tk) => (src, h60(tk.takeRight(32).mkString(" "))) }
    val dupHashes = docs.groupBy(_._2).collect { case (h, xs) if xs.length >= 2 => h }.toSet
    val brute = docs.groupBy(_._1).map { case (src, xs) =>
      val dup = xs.filter(x => dupHashes(x._2))
      src -> ((xs.length.toLong, dup.length.toLong, dup.map(_._2).distinct.length.toLong))
    }
    assert(got == brute, s"got $got, brute $brute")
  }

  test("bounded-peel k-core equals a brute fixpoint peel (converged on the committed corpus)") {
    val got = SparkEntry.queries("s_graph_kcore")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val raw = Similarity.knnGraphTable(spark, sfDir)
      .select("g_src", "g_dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sym = (raw ++ raw.map(e => (e._2, e._1))).distinct
    def peelOnce(e: Array[(Long, Long)], k: Long): Array[(Long, Long)] = {
      val deg = e.groupBy(_._1).view.mapValues(_.length.toLong).toMap
      val keep = deg.collect { case (v, d) if d >= k => v }.toSet
      e.filter(x => keep(x._1) && keep(x._2))
    }
    Seq(2L, 3L).foreach { k =>
      val e2 = peelOnce(peelOnce(sym, k), k)
      val e3 = peelOnce(e2, k)
      val (gv, ge, conv) = got(k)
      // the flag's exact semantic: round 3 removed nothing
      assert(conv == (e2.length == e3.length), s"k=$k converged flag")
      assert((gv, ge) ==
        ((e3.map(_._1).distinct.length.toLong, e3.length.toLong / 2)),
        s"k=$k: got ($gv,$ge), brute 3-round peel " +
          s"(${e3.map(_._1).distinct.length}, ${e3.length / 2})")
      // and when the flag says converged, the bounded peel IS the
      // exact k-core (one more brute round must be a no-op)
      if (conv) assert(peelOnce(e3, k).length == e3.length, s"k=$k fixpoint")
    }
  }

  test("difference-in-differences equals a brute 4-cell fold at the midpoint boundary") {
    val got = SparkEntry.queries("q_events_did")(spark, sfDir).head()
    val obs = Tables.load(spark, sfDir, "events")
      .where(col("event_type") === "purchase")
      .select(expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"),
        (col("user_id") % 2).as("arm"),
        expr("cast(floor(unix_micros(cast(ts as timestamp)) / 1000000) as bigint) div 86400")
          .as("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val mid = (obs.map(_._3).min + obs.map(_._3).max + 1) / 2
    def cell(arm: Long, post: Boolean) =
      obs.filter(o => o._2 == arm && ((o._3 >= mid) == post))
    def mean(arm: Long, post: Boolean): Long = {
      val c = cell(arm, post); c.map(_._1).sum / c.length
    }
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3)) ==
      ((cell(0, false).length.toLong, cell(0, true).length.toLong,
        cell(1, false).length.toLong, cell(1, true).length.toLong)))
    val did = (mean(0, true) - mean(0, false)) - (mean(1, true) - mean(1, false))
    assert(got.getLong(8) == did, s"did got ${got.getLong(8)}, brute $did")
  }

  test("PACF equals a brute Durbin-Levinson recursion on the dense daily series") {
    val got = SparkEntry.queries("q_events_pacf")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(5), r.getDouble(6), r.getDouble(7)))).toMap
    val daily = Tables.load(spark, sfDir, "events")
      .select(col("event_type"),
        expr("cast(floor(unix_micros(cast(ts as timestamp)) / 1000000) as bigint) div 86400")
          .as("day"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val types = daily.keys.map(_._1).toSeq.distinct
    for (t <- types) {
      val days = daily.keys.collect { case (`t`, d) => d }
      val y = (days.min to days.max).map(d => daily.getOrElse((t, d), 0L).toDouble)
      val n = y.length
      val mu = y.sum / n
      val c0 = y.map(v => (v - mu) * (v - mu)).sum
      def c(k: Int) = (k until n).map(i => (y(i) - mu) * (y(i - k) - mu)).sum
      val (r1, r2, r3) = (c(1) / c0, c(2) / c0, c(3) / c0)
      val p2 = (r2 - r1 * r1) / (1 - r1 * r1)
      val phi21 = r1 - p2 * r1
      val p3 = (r3 - phi21 * r2 - p2 * r1) / (1 - phi21 * r1 - p2 * r2)
      val (g1, g2, g3) = got(t)
      assert(math.abs(g1 - r1) < 1e-9 && math.abs(g2 - p2) < 1e-9 &&
        math.abs(g3 - p3) < 1e-9,
        s"$t: got ($g1,$g2,$g3), brute ($r1,$p2,$p3)")
    }
  }

  test("next-event predictability equals a brute transition fold") {
    val got = SparkEntry.queries("q_events_predictability")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getLong(5)))).toMap
    val seqs = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"),
        expr("cast(floor(unix_micros(cast(ts as timestamp)) / 1000000) as bigint)").as("t"),
        col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).values.flatMap { es =>
        val s = es.toSeq.sortBy(e => (e._3, e._4)).map(_._2)
        s.zip(s.drop(1))
      }.toSeq
    val byFrom = seqs.groupBy(_._1)
    for ((from, pairs) <- byFrom) {
      val cells = pairs.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
      val nT = cells.map(_._2).sum
      val ss = cells.map(c => c._2 * c._2).sum
      val (topTo, topN) = cells.minBy { case (to, c) => (-c, to) }
      val (gn, gk, gg, gt, gs) = got(from)
      assert((gn, gk, gt) == ((nT, cells.length.toLong, topTo)), s"$from")
      assert(gg == (nT * nT - ss) * 1000000L / (nT * nT), s"$from gini")
      assert(gs == topN * 1000L / nT, s"$from top share")
    }
  }

  test("encoding advisor equals brute per-order run counts") {
    val got = SparkEntry.queries("q_encoding_advisor")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(6)))).toMap
    val rows = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_linestatus"),
        (col("l_tax") * 100).cast("bigint").as("l_tax_cents"),
        col("l_quantity").cast("bigint").as("l_quantity"))
      .collect()
    def brute(get: org.apache.spark.sql.Row => String): (Long, Long, Long) = {
      val vs = rows.map(r => (r.getLong(0), r.getInt(1), get(r)))
      val runs = vs.groupBy(_._1).values.map { grp =>
        val ord = grp.toSeq.sortBy(g => (g._2, g._3)).map(_._3)
        1 + ord.zip(ord.drop(1)).count { case (a, b) => a != b }
      }.sum
      (vs.length.toLong, vs.map(_._3).distinct.length.toLong, runs.toLong)
    }
    val arms: Seq[(String, org.apache.spark.sql.Row => String)] = Seq(
      "l_returnflag" -> (_.getString(2)), "l_linestatus" -> (_.getString(3)),
      "l_tax_cents" -> (_.getLong(4).toString),
      "l_quantity" -> (_.getLong(5).toString))
    for ((name, get) <- arms) {
      val (n, nd, nr) = brute(get)
      val (gn, gnd, gnr, _) = got(name)
      assert((gn, gnd, gnr) == ((n, nd, nr)),
        s"$name: got ($gn,$gnd,$gnr), brute ($n,$nd,$nr)")
    }
  }

  test("b-bit minhash agrees with the full-signature audit on shared columns, estimator bounded") {
    def rows(q: String) = SparkEntry.queries(q)(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))).toMap
    val bbit = SparkEntry.queries("d_minhash_bbit")(spark, sfDir).collect()
    val full = rows("d_minhash_accuracy")
    assert(bbit.nonEmpty)
    bbit.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      // exact and full-signature columns must be IDENTICAL to the
      // parent audit's (one estimator pipeline, two reports)
      val (ex, ef) = full(key)
      assert((if (r.isNullAt(2)) None else Some(r.getLong(2))) == ex, s"$key exact")
      assert(r.getLong(3) == ef, s"$key est_full")
      val eb = r.getLong(4)
      assert(eb >= 0L && eb <= 1000L, s"$key est_bbit out of range: $eb")
    }
  }

  test("CUPED theta and adjusted difference equal a brute per-user covariate fold") {
    val got = SparkEntry.queries("q_events_cuped")(spark, sfDir).head()
    val obs = Tables.load(spark, sfDir, "events")
      .where(col("event_type") === "purchase")
      .select(expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"),
        col("user_id"),
        expr("cast(floor(unix_micros(cast(ts as timestamp)) / 1000000) as bigint) div 86400")
          .as("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val mid = (obs.map(_._3).min + obs.map(_._3).max + 1) / 2
    val per = obs.groupBy(_._2).map { case (u, es) =>
      (u, es.filter(_._3 < mid).map(_._1).sum, es.filter(_._3 >= mid).map(_._1).sum)
    }.toSeq
    val n = per.length.toDouble
    def mean(f: ((Long, Long, Long)) => Long, p: Seq[(Long, Long, Long)]) =
      p.map(f).sum.toDouble / p.length
    val (mx, my) = (mean(_._2, per), mean(_._3, per))
    val cov = per.map(p => (p._2 - mx) * (p._3 - my)).sum / n
    val vx = per.map(p => (p._2 - mx) * (p._2 - mx)).sum / n
    val theta = cov / vx
    val (pa, pb) = per.partition(_._1 % 2 == 0)
    val diffC = (mean(_._3, pa) - theta * mean(_._2, pa)) -
      (mean(_._3, pb) - theta * mean(_._2, pb))
    assert(got.getLong(0) == per.length.toLong &&
      got.getLong(1) == pa.length.toLong && got.getLong(2) == pb.length.toLong)
    assert(math.abs(got.getDouble(3) - theta) < 1e-6,
      s"theta got ${got.getDouble(3)}, brute $theta")
    assert(math.abs(got.getDouble(6) - diffC) < 1e-6,
      s"diff_cuped got ${got.getDouble(6)}, brute $diffC")
    // variance-retained must be in (0, 1] and the adjustment must not
    // move the difference by more than the raw means themselves
    assert(got.getDouble(4) > 0 && got.getDouble(4) <= 1.0)
  }

  test("power calculator equals the closed-form two-sample normal approximation") {
    val rows = SparkEntry.queries("q_events_power")(spark, sfDir)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(0), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    val per = Tables.load(spark, sfDir, "events")
      .where(col("event_type") === "purchase")
      .select(expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"),
        col("user_id"))
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    val n = per.length
    val mu = per.map(_._2).sum.toDouble / n
    val varY = {
      val sy = per.map(_._2).sum
      val syy = per.map(v => v._2 * v._2).sum
      (n.toDouble * syy - sy.toDouble * sy) / n / (n - 1)
    }
    for ((lift, (gn, gmu, gvar, greq)) <- rows) {
      assert(gn == n.toLong)
      assert(math.abs(gmu - mu) < 1e-6 && math.abs(gvar - varY) / varY < 1e-9)
      val delta = mu * lift / 100.0
      val req = math.ceil(2 * varY * 2.8015854724 * 2.8015854724 / (delta * delta)).toLong
      assert(greq == req, s"lift $lift: got $greq, brute $req")
    }
  }

  test("graph assortativity equals a brute Pearson over the symmetrized edge set") {
    val got = SparkEntry.queries("s_graph_assortativity")(spark, sfDir).head()
    val g = graft.operators.Similarity.knnGraphTable(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val e0 = (g ++ g.map(_.swap)).distinct
    val deg = e0.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val xy = e0.map { case (u, v) => (deg(u), deg(v)) }
    val m = xy.length.toLong
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val sxy = xy.map(p => p._1 * p._2).sum
    val (sxx, syy) = (xy.map(p => p._1 * p._1).sum, xy.map(p => p._2 * p._2).sum)
    val r = (m * sxy - sx * sy).toDouble /
      (math.sqrt((m * sxx - sx * sx).toDouble) * math.sqrt((m * syy - sy * sy).toDouble))
    assert(got.getLong(0) == deg.size.toLong && got.getLong(1) == m / 2)
    assert(math.abs(got.getDouble(2) - r) < 1e-9,
      s"assortativity got ${got.getDouble(2)}, brute $r")
  }
}
