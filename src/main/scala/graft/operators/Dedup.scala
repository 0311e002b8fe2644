package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Document deduplication family (SURVEY §2.2 rows 21–24): exact,
  * MinHash+LSH, SimHash, and prefix-filtered n-gram Jaccard.
  *
  * Scale design: none of these ever cross-joins the corpus.
  *  - exact dedup shuffles 16-byte md5 keys only;
  *  - MinHash LSH shuffles (band, bucket) keys; candidate pairs are
  *    verified only within buckets (the standard shingle→minhash→band
  *    →bucket-join pipeline);
  *  - SimHash joins on 15-bit blocks (4 blocks × 15 bits: pigeonhole
  *    guarantees any pair with Hamming ≤ 3 shares a block; 32,768
  *    values per block keeps within-block pair counts ~N²/131072);
  *  - n-gram Jaccard uses PPJoin-style prefix filtering: grams are
  *    ordered by ascending document frequency and only each doc's
  *    first |g| − ⌈t·|g|⌉ + 1 grams are indexed — lossless for
  *    J ≥ t, and the candidate count is driven by *rare* grams.
  * All signature computation is pure `functions._` array arithmetic
  * over md5-derived 60-bit hashes ([[graft.functions.Md5Hash60Util]])
  * — codegen'd, no UDFs, no driver-side loops, and every step is
  * reproduced exactly by the DuckDB oracles below (60-bit values keep
  * all arithmetic positive in signed 64-bit).
  */
object Dedup {

  // ---- shingling / hashing primitives (portable arithmetic) ----

  /** Hash domain for shingle hashes; small enough that affine
    * re-hashing (a*h+b) never overflows a Long. */
  private val HashP = 1000003L
  private val BucketP = 1000000007L
  private val K = 32       // minhash signature length
  private val Bands = 8    // LSH bands
  private val Rows = 4     // rows per band (K = Bands * Rows)
  private val SimT = 0.5   // near-duplicate Jaccard threshold

  /** Sorted distinct hashed word 3-gram shingles (native one-pass
    * expression — see [[graft.functions.Native.wordNGramHashes]]).
    */
  def wordShingles(text: Column, n: Int = 3): Column =
    graft.functions.Native.wordNGramHashes(text, n)

  /** K-row minhash signature: sig[k] = min over shingle hashes h of
    * ((2k+1)*(h mod P) + (k*2654435761 mod P)) mod P — all K rows in
    * one native compiled pass over the shingle array
    * ([[graft.functions.Native.minhashSignature]]).
    */
  def minhashSignature(hashes: Column): Column =
    graft.functions.Native.minhashSignature(hashes, K, HashP)

  /** Polynomial-combine one LSH band of the signature into a bucket id
    * (the rolling-hash fingerprint primitive of SURVEY §2.2 row 31).
    */
  private def bandBucket(sigSlice: Column): Column =
    aggregate(sigSlice, lit(0L), (acc, x) => pmod(acc * HashP + x, lit(BucketP)))

  /** Per-document LSH state: doc_id, shingles (sorted hashes),
    * signature — plus any `keep` columns carried through untouched
    * (e.g. event time for the watermarked streaming variant).
    */
  def signed(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val sh = wordShingles(col("text"))
    docs.select(col("doc_id") +: keep.map(col) :+ sh.as("shingles"): _*)
      .withColumn("sig", minhashSignature(col("shingles")))
  }

  /** (doc_id, band, bucket) — one row per band, the LSH shuffle key. */
  private def bandedBuckets(s: DataFrame): DataFrame =
    s.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(Bands - 1)),
        b => bandBucket(slice(col("sig"), b * Rows + 1, lit(Rows))))))
      .toDF("doc_id", "band", "bucket")

  /** (doc_id, shingles, band, bucket) — the LSH layout with the
    * shingle set carried alongside so a consumer can verify exact
    * Jaccard per candidate. Pure narrow projections over native
    * expressions: works identically on batch and streaming inputs
    * (used by [[graft.streaming.EventStreams.minhashDedupStream]]).
    */
  def bandedSigned(docs: DataFrame, keep: Seq[String] = Nil): DataFrame =
    signed(docs, keep).select(col("doc_id") +: keep.map(col) :+ col("shingles") :+
      posexplode(transform(sequence(lit(0), lit(Bands - 1)),
        b => bandBucket(slice(col("sig"), b * Rows + 1, lit(Rows))))): _*)
      .select(col("doc_id") +: keep.map(col) :+ col("shingles") :+
        col("pos").as("band") :+ col("col").as("bucket"): _*)

  /** Candidate pairs (a < b) that collide in at least one band. */
  def minhashCandidates(s: DataFrame): DataFrame = {
    val bb = bandedBuckets(s)
    val l = bb.toDF("a", "band", "bucket")
    val r = bb.toDF("b", "band", "bucket")
    l.join(r, Seq("band", "bucket")).where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Skew-hardened candidate generation: a hot (band, bucket) — one
    * viral boilerplate text duplicated millions of times — sends all
    * its pairs to one task in the plain self-join. Salting the left
    * side by doc-id hash and replicating the right side `saltFactor`×
    * spreads a hot bucket over saltFactor tasks (the
    * [[SkewJoin.saltedEquiJoin]] pattern applied to the LSH key);
    * result-identical to [[minhashCandidates]], tested in
    * PipelineSpec. AQE skew-splitting handles moderate skew
    * automatically; this is the explicit form for known-pathological
    * corpora.
    */
  def minhashCandidatesSalted(s: DataFrame, saltFactor: Int = 8): DataFrame = {
    val bb = bandedBuckets(s)
    val l = bb.toDF("a", "band", "bucket")
      .withColumn("_salt", pmod(hash(col("a")), lit(saltFactor)))
    val r = bb.toDF("b", "band", "bucket")
      .withColumn("_salt", explode(sequence(lit(0), lit(saltFactor - 1))))
    l.join(r, Seq("band", "bucket", "_salt")).where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Exact Jaccard of the (sorted, hashed) shingle sets for a pair
    * DataFrame — native merge-intersect, O(|A|+|B|) per pair.
    */
  def verifiedJaccard(pairs: DataFrame, s: DataFrame): DataFrame = {
    val sa = s.select(col("doc_id").as("a"), col("shingles").as("sh_a"))
    val sb = s.select(col("doc_id").as("b"), col("shingles").as("sh_b"))
    val inter = graft.functions.Native.sortedIntersectSize(col("sh_a"), col("sh_b"))
    pairs.join(sa, "a").join(sb, "b")
      .select(col("a"), col("b"),
        (inter.cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - inter)).as("jaccard"))
  }

  // ---- DuckDB oracle fragments (same arithmetic, list lambdas;
  //      shared text-hashing fragments live in Portable.textSql) ----

  private def h60(e: String): String = graft.functions.Portable.textSql.h60(e)
  private val tokensSql = graft.functions.Portable.textSql.tokens
  private val tokensLowerSql = graft.functions.Portable.textSql.tokensLower
  private def gramsSql(n: Int): String = graft.functions.Portable.textSql.grams(n)

  /** DuckDB: the [[bandBucket]] polynomial fold over sig[band*Rows+1
    * .. band*Rows+Rows] (first step: (0*P + x₁) mod BP = x₁).
    */
  private def bandBucketSql(band: String): String =
    (2 to Rows).foldLeft(s"sig[CAST($band*$Rows+1 AS INT)]")((acc, r) =>
      s"(($acc) * $HashP + sig[CAST($band*$Rows+$r AS INT)]) % $BucketP")

  // ---- §2.2 row 21: exact dedup (SQL oracle) ----

  val exact: QueryDef = QueryDef(
    "d_dedup_exact",
    (s, dir) => Tables.load(s, dir, "documents")
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies")),
    Some("""SELECT md5(text) AS fp, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
            FROM documents GROUP BY 1"""))

  // ---- §2.2 row 21b: chunk-level exact dedup (C4-style) ----

  /** Sub-document exact dedup — the C4/RefinedWeb "duplicated line"
    * pass re-expressed over this corpus's newline-free text: documents
    * split into consecutive 20-word chunks, and only the corpus-wide
    * FIRST occurrence of each distinct chunk (ordered by doc_id, then
    * position) survives; each document is then reassembled from its
    * surviving chunks. Output per document: chunk counts and the
    * fingerprint of the reassembled text.
    *
    * Scale shape: chunks shuffle once keyed on their 16-byte content
    * hash (the rank-1 window — no corpus self-join), then once more
    * back to doc_id for reassembly. Both shuffles carry chunks, which
    * is inherent to reassembly semantics; ranking itself only needs
    * (hash, doc_id, idx) scalars.
    */
  /** Chunk-level dedup core over (doc_id, text) rows: split into
    * `chunkWords`-word chunks, keep only each distinct chunk's
    * corpus-wide first occurrence, reassemble per doc. See
    * [[paragraph]] for semantics and scale notes.
    */
  def chunkDedup(docs: DataFrame, chunkWords: Int = 20): DataFrame = {
    val tk = docs
      .select(col("doc_id"),
        expr("filter(split(lower(text), ' '), x -> x <> '')").as("tk"))
      .where(size(col("tk")) > 0)
    val ch = tk.select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, cast(ceil(size(tk) / $chunkWords.0) as int) - 1), " +
          s"i -> array_join(slice(tk, i * $chunkWords + 1, $chunkWords), ' '))")))
      .toDF("doc_id", "chunk_idx", "chunk")
    // first occurrence per distinct chunk as a MIN aggregate, not a
    // rank window: min(struct) combines map-side, so a boilerplate
    // chunk repeated millions of times collapses to one row per map
    // task instead of funneling every occurrence through one task's
    // window sort; the join back is an AQE-skew-splittable equi-join
    val firsts = ch.groupBy(md5(col("chunk")).as("ck"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("first"))
    ch.join(firsts, md5(col("chunk")) === col("ck"))
      .withColumn("kept",
        col("first.doc_id") === col("doc_id") &&
          col("first.chunk_idx") === col("chunk_idx"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1).otherwise(0)).cast("long").as("n_kept"),
        md5(concat_ws(" ",
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("chunk_idx"), col("chunk"))))),
            c => c.getField("chunk")))).as("kept_fp"))
  }

  val paragraph: QueryDef = QueryDef(
    "d_dedup_paragraph",
    (s, dir) => chunkDedup(Tables.load(s, dir, "documents")),
    Some(s"""WITH tk AS (SELECT doc_id, $tokensLowerSql AS tk FROM documents),
         ex AS (SELECT doc_id, tk,
             unnest(range(0, CAST(CEIL(len(tk) / 20.0) AS BIGINT))) AS i
           FROM tk WHERE len(tk) > 0),
         ch AS (SELECT doc_id, i AS chunk_idx,
             array_to_string(tk[CAST(i*20+1 AS BIGINT) : CAST(LEAST((i+1)*20, len(tk)) AS BIGINT)], ' ') AS chunk
           FROM ex),
         k AS (SELECT doc_id, chunk_idx, chunk,
             ROW_NUMBER() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx) AS rk
           FROM ch)
         SELECT doc_id, COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(COALESCE(string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (WHERE rk = 1), '')) AS kept_fp
         FROM k GROUP BY doc_id"""))

  // ---- §2.2 row 21c: duplicated-SPAN detection (substring dedup) ----

  /** Substring-level duplicate detection (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", 2022): slide a
    * W-word window over every document and find spans that occur in
    * MORE THAN ONE place in the corpus. Unlike chunk dedup
    * ([[paragraph]], fixed non-overlapping 20-token chunks), the
    * rolling window catches duplicated passages at ANY offset — the
    * boilerplate/licence-header/quoted-reply shape that dominates web
    * crawls. Per document: total distinct windows, how many of them
    * are duplicated elsewhere, and the flag a pipeline would gate on
    * (≥ half the windows duplicated — compared as 2·dup ≥ total in
    * exact integers, no IEEE division).
    *
    * Scale: windows travel as 60-bit hashes (8 bytes), never text.
    * The duplicate set is found by one count-aggregate on the hash
    * (map-side partial, so a boilerplate span repeated millions of
    * times collapses per map task); the membership join back is a
    * hash-key equi-join — AQE skew-split handles the hot-span keys.
    * No cross join, no window over a hot key, nothing driver-side.
    */
  private val SpanW = 10 // duplicated-span window, in words

  /** Per-document duplicated-window statistics over (doc_id, text) —
    * the reusable core of [[substring]] (window width [[SpanW]]).
    */
  def substringDupStats(docs: DataFrame): DataFrame = {
    // distinct W-windows per doc (wordNGramHashes distincts + sorts)
    val ex = docs.select(col("doc_id"),
      explode(wordShingles(lower(col("text")), SpanW)).as("w"))
    // spans seen ≥ 2 times corpus-wide (windows are distinct within
    // a doc, so count(*) ≥ 2 ⟺ present in ≥ 2 documents)
    val dup = ex.groupBy("w").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2)
      .select(col("w"), lit(1L).as("is_dup"))
    ex.join(dup, Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        count(col("is_dup")).as("n_dup_windows"))
      .withColumn("flagged",
        lit(2) * col("n_dup_windows") >= col("n_windows"))
  }

  val substring: QueryDef = QueryDef(
    "d_dedup_substring",
    (s, dir) => substringDupStats(Tables.load(s, dir, "documents")),
    Some(s"""WITH tk AS (SELECT doc_id, $tokensLowerSql AS tk FROM documents),
         g AS (SELECT doc_id, ${gramsSql(SpanW)} AS grams FROM tk),
         ex AS (SELECT doc_id, unnest(grams) AS w FROM g),
         dup AS (SELECT w FROM ex GROUP BY w HAVING COUNT(*) >= 2)
         SELECT e.doc_id, COUNT(*) AS n_windows,
           COUNT(d.w) AS n_dup_windows,
           2 * COUNT(d.w) >= COUNT(*) AS flagged
         FROM ex e LEFT JOIN dup d ON e.w = d.w
         GROUP BY e.doc_id"""))

  // ---- §2.2 row 22: MinHash + LSH (full-pipeline SQL oracle) ----

  val minhash: QueryDef = QueryDef(
    "d_dedup_minhash",
    (s, dir) => {
      val sg = signed(Tables.load(s, dir, "documents"))
      val near = verifiedJaccard(minhashCandidates(sg), sg)
        .where(col("jaccard") >= SimT)
      val perDoc = near.select(col("a").as("doc_id"), col("jaccard"))
        .unionAll(near.select(col("b").as("doc_id"), col("jaccard")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_near_dups"), max(col("jaccard")).as("max_jaccard"))
      sg.select(col("doc_id"), size(col("shingles")).cast("long").as("n_shingles"),
          element_at(col("sig"), 1).as("minhash_0"))
        .join(perDoc, Seq("doc_id"), "left")
        .na.fill(Map("n_near_dups" -> 0L, "max_jaccard" -> -1.0))
    },
    Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
         sh AS (SELECT doc_id, ${gramsSql(3)} AS shingles FROM tk),
         sg AS (SELECT doc_id, shingles, list_transform(range(0, $K), k ->
             list_min(list_transform(shingles, h ->
               ((2*k+1)*(h % $HashP) + ((k*2654435761) % $HashP)) % $HashP))) AS sig
           FROM sh),
         bx AS (SELECT doc_id, unnest(range(0, $Bands)) AS band, sig FROM sg),
         bb AS (SELECT doc_id, band, ${bandBucketSql("band")} AS bucket FROM bx),
         cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM bb l JOIN bb r
             ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
         pj AS (SELECT c.a, c.b, len(list_intersect(sa.shingles, sb.shingles)) AS inter,
               len(sa.shingles) AS za, len(sb.shingles) AS zb
             FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b),
         near AS (SELECT * FROM (SELECT a, b,
               CAST(inter AS DOUBLE)/(za + zb - inter) AS jaccard FROM pj) x
             WHERE jaccard >= $SimT),
         per AS (SELECT doc_id, COUNT(*) AS n_near_dups, MAX(jaccard) AS max_jaccard FROM
             (SELECT a AS doc_id, jaccard FROM near
              UNION ALL SELECT b AS doc_id, jaccard FROM near) u GROUP BY doc_id)
         SELECT sg.doc_id, CAST(len(sg.shingles) AS BIGINT) AS n_shingles,
           CAST(sg.sig[1] AS BIGINT) AS minhash_0,
           COALESCE(per.n_near_dups, 0) AS n_near_dups,
           COALESCE(per.max_jaccard, -1.0) AS max_jaccard
         FROM sg LEFT JOIN per ON sg.doc_id = per.doc_id"""))

  // ---- §2.2 row 22c: edit-distance near-dup (LSH-prefiltered) ----

  /** Edit-distance near-duplicates — the second STAGE-2 VERIFIER over
    * the LSH candidate generator: band-collision pairs (the same
    * (band, bucket) equi-join as [[minhash]] — never all-pairs) are
    * verified with exact Levenshtein at ≤ 20% of the longer text.
    * Character-level distance catches in-place edits (typo farms,
    * template fills) that shingle Jaccard can miss, at O(|a|·|b|) per
    * pair — affordable precisely BECAUSE the prefilter bounds the pair
    * count (the scale-law tests measure that bound). Both engines run
    * the identical DP (`levenshtein`), so the oracle is the full
    * pipeline.
    */
  val editDistance: QueryDef = QueryDef(
    "d_dedup_editdist",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val cand = minhashCandidates(signed(d))
      val texts = d.select(col("doc_id"), col("text"))
      cand
        .join(texts.select(col("doc_id").as("a"), col("text").as("text_a")), Seq("a"))
        .join(texts.select(col("doc_id").as("b"), col("text").as("text_b")), Seq("b"))
        .withColumn("dist", levenshtein(col("text_a"), col("text_b")).cast("long"))
        .where(col("dist").cast("double") <=
          greatest(length(col("text_a")), length(col("text_b"))).cast("double") * 0.2)
        .select("a", "b", "dist")
    },
    Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
         sh AS (SELECT doc_id, ${gramsSql(3)} AS shingles FROM tk),
         sg AS (SELECT doc_id, shingles, list_transform(range(0, $K), k ->
             list_min(list_transform(shingles, h ->
               ((2*k+1)*(h % $HashP) + ((k*2654435761) % $HashP)) % $HashP))) AS sig
           FROM sh),
         bx AS (SELECT doc_id, unnest(range(0, $Bands)) AS band, sig FROM sg),
         bb AS (SELECT doc_id, band, ${bandBucketSql("band")} AS bucket FROM bx),
         cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM bb l JOIN bb r
             ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
         SELECT c.a, c.b, CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist
         FROM cand c
           JOIN documents da ON da.doc_id = c.a
           JOIN documents db ON db.doc_id = c.b
         WHERE CAST(levenshtein(da.text, db.text) AS DOUBLE) <=
           CAST(GREATEST(LENGTH(da.text), LENGTH(db.text)) AS DOUBLE) * 0.2"""))

  // ---- §2.2 row 23: SimHash, 4 × 15-bit pigeonhole blocks ----

  /** SimHash 4×15-bit pigeonhole candidates: (a, b, sh_a, sh_b) pairs
    * sharing ≥1 block. Public so the scale-law test can count them.
    */
  def simhashCandidates(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"),
      graft.functions.Native.simhash60(col("text")).as("simhash"))
    // pigeonhole: pairs within Hamming distance 3 share >= 1 of the
    // 4 15-bit blocks (32,768 values each — candidate pairs shrink
    // ~N²/131072 vs ~N²/2048 for the 8-bit-byte blocking).
    val blocks = d.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(j =>
        shiftrightunsigned(col("simhash"), 15 * j).bitwiseAND(lit(32767L))): _*)))
      .toDF("doc_id", "simhash", "block", "blockval")
    blocks.toDF("a", "sh_a", "block", "blockval")
      .join(blocks.toDF("b", "sh_b", "block", "blockval"), Seq("block", "blockval"))
      .where(col("a") < col("b"))
      .select("a", "b", "sh_a", "sh_b").distinct()
  }

  val simhashDef: QueryDef = QueryDef(
    "d_dedup_simhash",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Native.simhash60(col("text")).as("simhash"))
      val cand = simhashCandidates(Tables.load(s, dir, "documents"))
        .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)").cast("long"))
      val perDoc = cand.select(col("a").as("doc_id"), col("hamming"))
        .unionAll(cand.select(col("b").as("doc_id"), col("hamming")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_candidates"), min(col("hamming")).as("min_hamming"))
      d.join(perDoc, Seq("doc_id"), "left")
        .na.fill(Map("n_candidates" -> 0L, "min_hamming" -> 99L))
    },
    Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
         th AS (SELECT doc_id, list_transform(tk, t -> ${h60("t")}) AS hs FROM tk),
         sh AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), b ->
             CASE WHEN COALESCE(list_sum(list_transform(hs, h ->
                 CASE WHEN ((h >> CAST(b AS INT)) & 1) = 1 THEN 1 ELSE -1 END)), 0) >= 0
               THEN CAST(power(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
           FROM th),
         bx AS (SELECT doc_id, simhash, unnest(range(0, 4)) AS block FROM sh),
         bb AS (SELECT doc_id, simhash, block,
             (simhash >> CAST(block*15 AS INT)) & 32767 AS blockval FROM bx),
         cand AS (SELECT DISTINCT l.doc_id AS a, l.simhash AS sh_a,
               r.doc_id AS b, r.simhash AS sh_b
             FROM bb l JOIN bb r
             ON l.block = r.block AND l.blockval = r.blockval AND l.doc_id < r.doc_id),
         hm AS (SELECT a, b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming FROM cand),
         per AS (SELECT doc_id, COUNT(*) AS n_candidates, MIN(hamming) AS min_hamming FROM
             (SELECT a AS doc_id, hamming FROM hm
              UNION ALL SELECT b AS doc_id, hamming FROM hm) u GROUP BY doc_id)
         SELECT sh.doc_id, sh.simhash, COALESCE(per.n_candidates, 0) AS n_candidates,
           COALESCE(per.min_hamming, 99) AS min_hamming
         FROM sh LEFT JOIN per ON sh.doc_id = per.doc_id"""))

  /** §2.2 row 23b — INCREMENTAL SimHash dedup: the batch-vs-index
    * serving shape of [[simhashDef]] (the family convention — exact,
    * MinHash and semantic dedup all have incremental twins; this
    * closes SimHash's): the 90% corpus signs ONCE into a persisted
    * content-keyed (block, blockval) index; a new batch computes its
    * own signatures and probes ONLY its bucket-mates (pigeonhole: a
    * pair within Hamming 3 shares ≥ 1 of the 4 15-bit blocks), exact
    * Hamming verify, is_dup at the classic ≤ 3 threshold. O(batch ×
    * bucket-mates) per batch — the 100 TB steady-state shape.
    */
  /** (doc_id, simhash, block, blockval) — one row per 15-bit block of
    * each doc's SimHash, the pigeonhole index rows shared by the
    * batch-incremental, streaming and catalog forms.
    */
  private[graft] def simhashBlocksOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.Native.simhash60(col("text")).as("simhash"))
      .select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(j =>
          shiftrightunsigned(col("simhash"), 15 * j)
            .bitwiseAND(lit(32767L))): _*)))
      .toDF("doc_id", "simhash", "block", "blockval")

  /** Per-doc SimHash verdicts of a block frame probed against an index
    * block frame: bucket-mate candidates, exact Hamming verify, is_dup
    * at the classic ≤ 3 threshold.
    */
  private def simhashVerdicts(batch: DataFrame, idx: DataFrame): DataFrame = {
    val cand = batch
      .join(idx.toDF("i_id", "i_sh", "block", "blockval"), Seq("block", "blockval"))
      .where(col("i_id") =!= col("doc_id"))
      .select(col("doc_id"), col("simhash"), col("i_id"), col("i_sh")).distinct()
      .withColumn("hamming", expr("bit_count(simhash ^ i_sh)").cast("long"))
    val per = cand.groupBy("doc_id")
      .agg(count(lit(1)).as("n_candidates"), min(col("hamming")).as("min_hamming"))
    batch.select("doc_id", "simhash").distinct()
      .join(per, Seq("doc_id"), "left")
      .na.fill(Map("n_candidates" -> 0L, "min_hamming" -> 99L))
      .withColumn("is_dup", col("min_hamming") <= 3L)
  }

  /** One micro-batch of INCREMENTAL SimHash dedup — the
    * [[exactDedupBatchIncremental]] convention applied to the block
    * index: the batch's block rows append EXACTLY-ONCE under
    * (streamId, batchId), and the verdicts are computed against the
    * PREVIOUS committed version (docs that arrived before this batch
    * — the batch-vs-index shape of `d_dedup_simhash_incremental`).
    * A replayed batch is a no-op append and recomputes bit-identical
    * verdicts against its own v−1, even if later batches committed
    * meanwhile.
    */
  def simhashBatchIncremental(newDocs: DataFrame, table: String,
      streamId: String, batchId: Long): DataFrame = {
    val spark = newDocs.sparkSession
    val blocks = simhashBlocksOf(newDocs).localCheckpoint()
    val v = graft.sources.Snapshots.ingestBatch(blocks, table, streamId, batchId)
    val idx =
      if (v <= 1) blocks.where(lit(false)) // first commit: empty corpus
      else graft.sources.Snapshots.readVersion(spark, table, v - 1)
    simhashVerdicts(blocks, idx)
  }

  val simhashIncremental: QueryDef = QueryDef(
    "d_dedup_simhash_incremental",
    (s, dir) => {
      import graft.sources.Snapshots
      val d = Tables.load(s, dir, "documents")
      val fp = Snapshots.fileFingerprint(s"$dir/documents.parquet")
        .replaceAll("[^A-Za-z0-9]", "").take(16)
      val table = graft.Roots.scratch + "/simhash_index/v1_" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + fp
      if (Snapshots.currentVersion(table) == 0) {
        Snapshots.gcSiblingRoots(table)
        Snapshots.commitOverwrite(
          simhashBlocksOf(d.where(col("doc_id") % 10 =!= 0)), table)
      }
      val idx = Snapshots.read(s, table)
      val batch = simhashBlocksOf(d.where(col("doc_id") % 10 === 0))
      simhashVerdicts(batch, idx)
    },
    Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
         th AS (SELECT doc_id, list_transform(tk, t -> ${h60("t")}) AS hs FROM tk),
         sh AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), b ->
             CASE WHEN COALESCE(list_sum(list_transform(hs, h ->
                 CASE WHEN ((h >> CAST(b AS INT)) & 1) = 1 THEN 1 ELSE -1 END)), 0) >= 0
               THEN CAST(power(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
           FROM th),
         bx AS (SELECT doc_id, simhash, unnest(range(0, 4)) AS block FROM sh),
         bb AS (SELECT doc_id, simhash, block,
             (simhash >> CAST(block*15 AS INT)) & 32767 AS blockval FROM bx),
         cand AS (SELECT DISTINCT n.doc_id, n.simhash, i.doc_id AS i_id,
               i.simhash AS i_sh
             FROM bb n JOIN bb i ON n.block = i.block AND n.blockval = i.blockval
               AND n.doc_id % 10 = 0 AND i.doc_id % 10 <> 0),
         hm AS (SELECT doc_id, CAST(bit_count(xor(simhash, i_sh)) AS BIGINT)
               AS hamming FROM cand),
         per AS (SELECT doc_id, COUNT(*) AS n_candidates,
               MIN(hamming) AS min_hamming FROM hm GROUP BY 1)
         SELECT sh.doc_id, sh.simhash,
           COALESCE(per.n_candidates, 0) AS n_candidates,
           COALESCE(per.min_hamming, 99) AS min_hamming,
           COALESCE(per.min_hamming, 99) <= 3 AS is_dup
         FROM sh LEFT JOIN per ON sh.doc_id = per.doc_id
         WHERE sh.doc_id % 10 = 0"""))

  // ---- §2.2 row 24: n-gram Jaccard with PPJoin prefix filtering ----

  /** All near-duplicate pairs (a < b, J ≥ SimT) under the PPJoin
    * candidate generation — shared by the pairwise query and the
    * clustering query.
    */
  def ngramNearDupPairs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val (g, cand) = ngramStage(s, dir)
    val full = g.select(col("doc_id"), col("grams"))
    val inter = graft.functions.Native.sortedIntersectSize(col("g_a"), col("g_b"))
    cand.join(full.toDF("a", "g_a"), "a").join(full.toDF("b", "g_b"), "b")
      .select(col("a"), col("b"),
        (inter.cast("double") /
          (size(col("g_a")) + size(col("g_b")) - inter)).as("jaccard"))
      .where(col("jaccard") >= SimT)
  }

  /** PPJoin prefix+positional-filter survivors (a, b) BEFORE exact
    * verification — public so the scale-law test can compare the
    * candidate count against the all-pairs-within-block baseline.
    */
  def ngramCandidates(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    ngramStage(s, dir)._2

  private def ngramStage(
      s: org.apache.spark.sql.SparkSession, dir: String): (DataFrame, DataFrame) = {
      val d = Tables.load(s, dir, "documents")
      // computed once, read three times (the inverted index feeding the
      // prefix pipeline + both sides of the verification join) — without
      // the checkpoint each reader re-runs the scan + ngram hashing
      val g = d.select(col("doc_id"), col("lang"),
        floor(col("n_chars") / 40).as("len_band"),
        graft.functions.Native.wordNGramHashes(col("text"), 2).as("grams"))
        .localCheckpoint()
      // Prefix filtering (Chaudhuri et al. 2006 / PPJoin): under a
      // global gram order by ascending block df, any pair with
      // J >= t shares one of each doc's first |g| - ceil(t*|g|) + 1
      // grams. Candidate generation therefore keys on RARE grams —
      // the stop-gram df² blowup is gone — and stays lossless: the
      // oracle below computes the same result by exhaustive
      // within-block comparison.
      val inv = g.select(col("doc_id"), col("lang"), col("len_band"),
        size(col("grams")).as("sz"), explode(col("grams")).as("gram"))
      val dfreq = inv.groupBy("lang", "len_band", "gram").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id").orderBy(col("df"), col("gram"))
      // The df lookup is a SHUFFLE join on the gram key, never a
      // broadcast: the distinct-gram vocabulary grows with the corpus
      // (billions of word 2-grams at 100 TB), so a broadcast hint here
      // would force an un-broadcastable build side. The shuffle is
      // cheap — dfreq is map-side-combined (partial count per gram),
      // and hot stop-gram keys are many-to-one probes that AQE's skew
      // splitting handles. Note a df CAP cannot make this lossless
      // cheaper: prefix membership is relative to each doc's own gram
      // order (a block of identical docs has all-high-df prefixes), so
      // no absolute df threshold excludes a gram from every prefix.
      // The prefix filter itself is lossless under ANY consistent
      // global gram order; df-ascending is the candidate-minimizing
      // choice, not a correctness requirement.
      val prefix = inv.join(dfreq.hint("shuffle_hash"), Seq("lang", "len_band", "gram"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= col("sz") - ceil(lit(SimT) * col("sz")) + 1)
        .select("doc_id", "lang", "len_band", "gram", "rn", "sz")
        // materialize ONCE: both sides of the candidate self-join read
        // this frame, and without the checkpoint Catalyst re-executes
        // the whole scan→ngram→explode→df-join→window pipeline per side
        .localCheckpoint()
      // Positional filter (PPJoin): for the globally-first common gram
      // at prefix positions (rn_a, rn_b), the overlap is at most
      // 1 + min(sz_a - rn_a, sz_b - rn_b); J >= t needs overlap >=
      // ceil(t/(1+t) * (sz_a+sz_b)). Taking the max bound over all
      // shared prefix grams keeps a superset of PPJoin's survivors —
      // still lossless, replaces distinct() with the same one shuffle.
      val cand = prefix.toDF("a", "lang", "len_band", "gram", "rn_a", "sz_a")
        .join(prefix.toDF("b", "lang", "len_band", "gram", "rn_b", "sz_b"),
          Seq("lang", "len_band", "gram"))
        .where(col("a") < col("b"))
        .groupBy("a", "b")
        .agg(max(least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b"))).as("slack"),
          first(col("sz_a")).as("sz_a"), first(col("sz_b")).as("sz_b"))
        .where(lit(1) + col("slack") >=
          ceil((col("sz_a") + col("sz_b")) * lit(SimT) / (lit(1.0) + lit(SimT))))
        .select("a", "b")
      (g, cand)
  }

  /** DuckDB twin of [[ngramNearDupPairs]] (CTE body; exhaustive
    * within-block compare — the prefix/positional filters are
    * lossless, so the sets agree).
    */
  private val ngramPairsSql: String =
    s"""tk AS (SELECT doc_id, lang, n_chars, $tokensSql AS tk FROM documents),
       g AS (SELECT doc_id, lang, CAST(FLOOR(n_chars/40) AS BIGINT) AS len_band,
           ${gramsSql(2)} AS grams FROM tk),
       pp AS (SELECT x.doc_id AS a, y.doc_id AS b,
           len(list_intersect(x.grams, y.grams)) AS inter,
           len(x.grams) AS za, len(y.grams) AS zb
         FROM g x JOIN g y
         ON x.lang = y.lang AND x.len_band = y.len_band AND x.doc_id < y.doc_id),
       pj2 AS (SELECT a, b, CAST(inter AS DOUBLE)/(za + zb - inter) AS jaccard FROM pp),
       pairs AS (SELECT a, b, jaccard FROM pj2 WHERE jaccard >= $SimT)"""

  val ngramJaccard: QueryDef = QueryDef(
    "d_dedup_ngram_jaccard",
    (s, dir) => ngramNearDupPairs(s, dir)
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(50),
    Some(s"""WITH $ngramPairsSql
         SELECT a, b, jaccard FROM pairs
         ORDER BY jaccard DESC, a, b LIMIT 50"""))

  // ---- §2.2 row 24b: near-dup clustering (connected components) ----

  /** Connected components over a near-duplicate pair graph via
    * Pregel-style min-label propagation: each round every vertex
    * takes the minimum label among itself and its neighbors;
    * convergence in O(diameter) rounds. The driver loop carries only
    * one change-count per round (an aggregate, never data rows), and
    * `localCheckpoint` truncates lineage so round N's plan does not
    * embed rounds 1..N-1. At 100 TB this is the standard iterative
    * label-propagation shape (alternating small-star/large-star
    * would cut rounds further); every round is one shuffle on the
    * label key.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIters: Int = 20, localThreshold: Long = 100000): DataFrame = {
    // vertices: (v); edges: (src, dst) directed both ways
    //
    // Size-adaptive: the iteration frame is the NEAR-DUP GRAPH, not
    // the corpus — usually orders of magnitude smaller. When it fits
    // comfortably on the driver (≤ localThreshold edges ≈ 1.6 MB),
    // a driver-side union-find replaces K rounds × 2 Spark jobs of
    // scheduler latency with one collect; the distributed min-label
    // loop below is the ≥ threshold path (and the one the scale story
    // rests on — forced in tests via localThreshold = 0).
    // BOTH frames must fit: edge count does not bound vertex count
    // (incrementalComponents passes every previously labeled vertex —
    // a mostly-singleton labeling has few edges but arbitrarily many
    // vertices), so the local path gates on the larger of the two.
    if (localThreshold > 0 && edges.count() <= localThreshold
        && vertices.count() <= localThreshold) {
      val spark = vertices.sparkSession
      val vs = vertices.select("v").collect().map(_.getLong(0))
      val parent = scala.collection.mutable.HashMap.from(vs.map(v => v -> v))
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      edges.select("src", "dst").collect().foreach { e =>
        val (a, b) = (find(e.getLong(0)), find(e.getLong(1)))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      }
      import spark.implicits._
      return vs.map(v => (v, find(v))).toSeq.toDF("v", "label")
        .repartition(1).localCheckpoint()
    }
    var labels = vertices.select(col("v"), col("v").as("label")).localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIters) {
      val msgs = edges.join(labels.withColumnRenamed("v", "dst"), "dst")
        .select(col("src").as("v"), col("label"))
      // carry the previous label through the aggregate so convergence
      // detection is a filter over the already-checkpointed frame —
      // one shuffle per round, no second join re-shuffling both sides
      val next = labels.select(col("v"), col("label"), col("label").as("prev"))
        .unionAll(msgs.select(col("v"), col("label"),
          lit(null).cast(vertices.schema("v").dataType).as("prev")))
        .groupBy("v").agg(min(col("label")).as("label"), max(col("prev")).as("prev"))
        .localCheckpoint()
      changed = next.where(col("label") =!= col("prev")).count()
      labels = next.select(col("v"), col("label"))
      iter += 1
    }
    labels
  }

  /** The near-dup pair table as MATERIALIZED physical design: in a
    * production pipeline pair generation runs once per corpus snapshot
    * and every downstream consumer (clustering, canonical selection,
    * dedup analytics) reads the persisted table instead of re-running
    * the shingle→prefix→verify pipeline: a [[graft.sources.BuildOnce]]
    * table. `d_dedup_ngram_jaccard` still executes the full inline pipeline,
    * so the build cost itself stays benchmarked.
    */
  def nearDupPairsTable(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.sources.BuildOnce("neardup", dir, "documents").serve(s)(ngramNearDupPairs(s, dir))

  /** Incrementally maintain a component labeling as new near-dup
    * edges stream in (the production shape: nightly dedup emits new
    * pairs; relabeling the full corpus graph from scratch is wasted
    * work). The prior labeling is sound exactly because each old
    * component is connected THROUGH its label vertex — so collapsing
    * every old component to a star (v ↔ label) preserves
    * connectivity, and running [[connectedComponents]] over
    * stars ∪ new edges yields the same labels as a full recompute
    * (tested) while iterating only over the collapsed graph:
    * O(|labels| + |new edges|) per round, with round count driven by
    * how many old components the new edges chain together, not by the
    * original graph's diameter.
    */
  def incrementalComponents(oldLabels: DataFrame, newEdges: DataFrame,
      maxIters: Int = 20, localThreshold: Long = 100000): DataFrame = {
    val stars = oldLabels.where(col("v") =!= col("label"))
      .select(col("v").as("src"), col("label").as("dst"))
    val edges = stars
      .unionAll(stars.select(col("dst").as("src"), col("src").as("dst")))
      .unionAll(newEdges)
    val vertices = oldLabels.select("v")
      .unionAll(newEdges.select(col("src").as("v")))
      .distinct()
    connectedComponents(vertices, edges, maxIters, localThreshold)
  }

  // ---- §2.2 incremental corpus dedup: persisted band index ----

  /** Bootstrap the PERSISTED minhash band index for an existing corpus
    * — the write-once/serve pattern (same as the IVF inverted lists
    * and the materialized pair table) applied to dedup signatures: at
    * 100 TB the corpus's shingling + minhash pass runs ONCE, and every
    * later batch joins against the stored (doc_id, shingles, band,
    * bucket) rows instead of recomputing them. Storage is a
    * [[graft.sources.Snapshots]] table, so the index is versioned
    * (the corpus bootstrap stays readable at its own version while
    * batches append) and batch commits are exactly-once.
    */
  def buildBandIndex(docs: DataFrame, table: String): Int =
    graft.sources.Snapshots.commitOverwrite(bandedSigned(docs), table)

  /** The persisted band index's [[graft.sources.SignedIndex]]: one
    * `sgn` row per (doc, band) signature row.
    */
  private[graft] val BandIndex = graft.sources.SignedIndex("band_through ",
    Seq("doc_id", "band", "bucket", "shingles"), "sgn")

  /** DELETE-AWARE incremental maintenance of a persisted band index
    * over a VERSIONED documents snapshot table — the near-dup twin of
    * [[graft.functions.TextFunctions.postingsMaintain]]: a doc's
    * signature rows are a set keyed by (doc_id, band, bucket,
    * shingles), so a departed doc folds in as sgn = −1 tombstone rows
    * and an inserted one as sgn = +1 — one maintenance pass signs ONLY
    * the changed docs and APPENDS one delta dir; the index is never
    * rewritten and the corpus never re-signed. Fold, serve and
    * compaction: [[BandIndex]].
    */
  def bandIndexMaintain(s: org.apache.spark.sql.SparkSession,
      baseTable: String, idxTable: String): Int =
    BandIndex.fold(s, baseTable, idxTable)(bandedSigned(_).withColumn("sgn", lit(1)))

  /** Net view of a tombstone-folded band index: a deleted doc's bands
    * vanish and a re-inserted doc's reappear; output schema matches
    * [[bandedSigned]], so it drops into [[batchDedupStats]] unchanged.
    */
  def serveBandIndex(s: org.apache.spark.sql.SparkSession, idxTable: String): DataFrame =
    BandIndex.serve(s, idxTable).select("doc_id", "shingles", "band", "bucket")

  /** The SimHash block index's [[graft.sources.SignedIndex]]: one `sgn`
    * row per (doc, block) pigeonhole row.
    */
  private[graft] val SimhashIndex = graft.sources.SignedIndex("simhash_through ",
    Seq("doc_id", "simhash", "block", "blockval"), "sgn")

  /** DELETE-AWARE maintenance of the SimHash block index — the
    * [[bandIndexMaintain]] convention on the pigeonhole rows: a doc's
    * (doc_id, simhash, block, blockval) set is determined by its text,
    * so departed docs fold as sgn = −1 tombstones and inserted ones as
    * +1, one O(changed docs) append per base version; hash-proven
    * against a live-corpus recompute by `q_forget_capstone`.
    */
  def simhashIndexMaintain(s: org.apache.spark.sql.SparkSession,
      baseTable: String, idxTable: String): Int =
    SimhashIndex.fold(s, baseTable, idxTable)(simhashBlocksOf(_).withColumn("sgn", lit(1)))

  /** Net view of the tombstone-folded SimHash block index — the live
    * corpus's pigeonhole rows, schema-compatible with
    * [[simhashVerdicts]]'s index side.
    */
  def serveSimhashIndex(s: org.apache.spark.sql.SparkSession,
      idxTable: String): DataFrame =
    SimhashIndex.serve(s, idxTable).select("doc_id", "simhash", "block", "blockval")

  /** The exact-dedup fingerprint index's
    * [[graft.sources.SignedIndex]]: signed (doc_id, fp) membership rows.
    */
  private[graft] val FingerprintIndex =
    graft.sources.SignedIndex("fp_through ", Seq("doc_id", "fp"), "sgn")

  /** DELETE-AWARE maintenance of the exact-dedup fingerprint index:
    * signed (doc_id, fp) rows — NOT the folded fp→min(canonical) map,
    * which is not abelian under deletes (removing the canonical doc
    * must PROMOTE the next-smallest id, information a min-folded row
    * no longer carries). Serving ([[serveFingerprintIndex]]) nets the
    * membership rows and takes min(doc_id) per fp over the LIVE set,
    * so canonical promotion falls out of the aggregate.
    */
  def fingerprintIndexMaintain(s: org.apache.spark.sql.SparkSession,
      baseTable: String, idxTable: String): Int =
    FingerprintIndex.fold(s, baseTable, idxTable)(
      _.select(col("doc_id"), md5(col("text")).as("fp"), lit(1).as("sgn")))

  /** fp → canonical (min live doc_id) from the tombstone-folded
    * fingerprint index — equals `d_dedup_exact`'s canonical map over
    * the live corpus.
    */
  def serveFingerprintIndex(s: org.apache.spark.sql.SparkSession,
      idxTable: String): DataFrame =
    FingerprintIndex.serve(s, idxTable)
      .groupBy("fp").agg(min(col("doc_id")).as("canonical_id"))

  /** DuckDB CTE chain re-deriving the minhash BAND-INDEX rows
    * (doc_id, band, bucket) from a restricted documents corpus — the
    * live-corpus oracle of [[bandIndexMaintain]] under the forget
    * capstone. `fromCorpus` is the FROM clause supplying
    * (doc_id, text) — a filtered `documents` read, or a CTE carrying
    * updated text. CTE names prefixed `mb`; emits `mbands`.
    */
  private[graft] def bandIndexSqlCtes(fromCorpus: String): String =
    s"""mbtk AS (SELECT doc_id, $tokensSql AS tk $fromCorpus),
       mbsh AS (SELECT doc_id, ${gramsSql(3)} AS shingles FROM mbtk),
       mbsg AS (SELECT doc_id, list_transform(range(0, $K), k ->
           list_min(list_transform(shingles, h ->
             ((2*k+1)*(h % $HashP) + ((k*2654435761) % $HashP)) % $HashP))) AS sig
         FROM mbsh),
       mbbx AS (SELECT doc_id, unnest(range(0, $Bands)) AS band, sig FROM mbsg),
       mbands AS (SELECT doc_id, band, ${bandBucketSql("band")} AS bucket FROM mbbx)"""

  /** DuckDB CTE chain re-deriving the SimHash BLOCK rows
    * (doc_id, simhash, block, blockval) from a restricted documents
    * corpus — [[simhashIndexMaintain]]'s live-corpus oracle.
    * `fromCorpus` as in [[bandIndexSqlCtes]]. CTE names prefixed `sx`;
    * emits `sxblocks`.
    */
  private[graft] def simhashIndexSqlCtes(fromCorpus: String): String =
    s"""sxtk AS (SELECT doc_id, $tokensSql AS tk $fromCorpus),
       sxth AS (SELECT doc_id, list_transform(tk, t -> ${h60("t")}) AS hs FROM sxtk),
       sxsh AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), b ->
           CASE WHEN COALESCE(list_sum(list_transform(hs, h ->
               CASE WHEN ((h >> CAST(b AS INT)) & 1) = 1 THEN 1 ELSE -1 END)), 0) >= 0
             THEN CAST(power(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
         FROM sxth),
       sxbx AS (SELECT doc_id, simhash, unnest(range(0, 4)) AS block FROM sxsh),
       sxblocks AS (SELECT doc_id, simhash, block,
           (simhash >> CAST(block*15 AS INT)) & 32767 AS blockval FROM sxbx)"""

  /** Near-dup stats for a NEW document batch against corpus ∪ batch,
    * with the corpus side served ENTIRELY from the persisted index at
    * `indexVersion` — no signature recompute — and the batch's own
    * signatures appended to the index exactly-once under
    * (streamId, batchId), so replays (and bench re-runs) no-op.
    * Candidate generation is the same (band, bucket) equi-join as
    * [[minhash]]: cross candidates come from batch ⋈ index, intra-
    * batch candidates from batch ⋈ batch — together exactly the
    * full-recompute candidate set restricted to pairs touching the
    * batch, which is why the full-corpus oracle hash-matches.
    */
  def dedupAgainstIndex(newDocs: DataFrame, table: String, indexVersion: Int,
      streamId: String, batchId: Long): DataFrame = {
    val spark = newDocs.sparkSession
    val newBand = bandedSigned(newDocs).localCheckpoint()
    graft.sources.Snapshots.ingestBatch(newBand, table, streamId, batchId)
    batchDedupStats(newBand,
      graft.sources.Snapshots.readVersion(spark, table, indexVersion))
  }

  /** Near-dup stats of the banded batch against index ∪ batch (shared
    * tail of [[dedupAgainstIndex]] / [[dedupBatchIncremental]]; also
    * the pure-recompute reference in StreamingSpec, fed freshly-signed
    * frames instead of stored index rows).
    */
  private[graft] def batchDedupStats(newBand: DataFrame, idx: DataFrame): DataFrame = {
    val all = idx.unionAll(newBand)
    val cand = newBand.select(col("doc_id").as("b"), col("band"), col("bucket"))
      .join(all.select(col("doc_id").as("a"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .where(col("a") =!= col("b"))
      .select("a", "b").distinct()
    val sigs = all.select("doc_id", "shingles").dropDuplicates("doc_id")
    val near = verifiedJaccard(cand, sigs).where(col("jaccard") >= SimT)
    // every partner of a batch doc x appears in some pair with b = x
    // (corpus partners in that orientation only; batch partners in
    // both), so grouping by b counts each partner exactly once
    val perDoc = near.groupBy(col("b").as("doc_id"))
      .agg(count(lit(1)).as("n_near_dups"), max(col("jaccard")).as("max_jaccard"))
    newBand.select("doc_id", "shingles").dropDuplicates("doc_id")
      .select(col("doc_id"), size(col("shingles")).cast("long").as("n_shingles"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(Map("n_near_dups" -> 0L, "max_jaccard" -> -1.0))
  }

  /** One micro-batch of STREAMING incremental dedup: the batch's
    * signatures commit to the index exactly-once FIRST (creating
    * version v), then the batch dedups against the table content at
    * v − 1 — everything committed strictly before it. A replay
    * resolves v from its own ingest tag
    * ([[graft.sources.Snapshots.committedVersion]]) and re-reads the
    * SAME v − 1, so its result is bit-identical no matter how many
    * later batches have committed in between — the property that makes
    * foreachBatch retries safe end-to-end. Streaming wrapper:
    * [[graft.streaming.EventStreams.incrementalDedupStream]].
    */
  def dedupBatchIncremental(newDocs: DataFrame, table: String,
      streamId: String, batchId: Long): DataFrame = {
    val spark = newDocs.sparkSession
    val newBand = bandedSigned(newDocs).localCheckpoint()
    val v = graft.sources.Snapshots.ingestBatch(newBand, table, streamId, batchId)
    val idx =
      if (v <= 1) newBand.where(lit(false)) // first commit: empty corpus
      else graft.sources.Snapshots.readVersion(spark, table, v - 1)
    batchDedupStats(newBand, idx)
  }

  /** One micro-batch of EXACT (fingerprint) dedup against the
    * persisted fingerprint→canonical index — the streaming unit behind
    * [[graft.streaming.EventStreams.exactDedupStream]], mirroring
    * [[dedupBatchIncremental]]'s exactly-once contract: the batch's
    * (fp → min doc_id) rows commit under (streamId, batchId), so a
    * replayed batch no-ops the commit and recomputes its verdicts
    * against its own v-1 — the same comparison set it saw the first
    * time. O(batch) per cycle: one groupBy on the 16-byte fingerprint
    * plus one equi-join against the index on that key.
    */
  def exactDedupBatchIncremental(newDocs: DataFrame, table: String,
      streamId: String, batchId: Long): DataFrame = {
    val spark = newDocs.sparkSession
    val fps = newDocs.select(col("doc_id"), md5(col("text")).as("fp"))
      .localCheckpoint()
    val batchIdx = fps.groupBy("fp").agg(min(col("doc_id")).as("canonical_id"))
    val v = graft.sources.Snapshots.ingestBatch(batchIdx, table, streamId, batchId)
    val idx =
      if (v <= 1) batchIdx.where(lit(false)) // first commit: empty corpus
      else graft.sources.Snapshots.readVersion(spark, table, v - 1)
    val combined = idx.unionByName(batchIdx)
      .groupBy("fp").agg(min(col("canonical_id")).as("canonical_id"))
    fps.join(combined, Seq("fp"))
      .select(col("doc_id"), col("canonical_id"),
        (col("canonical_id") =!= col("doc_id")).as("is_dup"))
  }

  /** Catalog entry: corpus = 90% of documents (bootstrapped into the
    * persisted index on first run), batch = the doc_id % 10 == 0 slice
    * deduped incrementally against it. The oracle recomputes the FULL
    * corpus pipeline and restricts to batch docs — proving
    * batch-incremental ≡ full-rerun.
    */
  val incremental: QueryDef = QueryDef(
    "d_dedup_incremental",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      // CONTENT-keyed root (round-10 GC audit): path-only keying kept
      // serving a band index signed over the OLD corpus after a
      // testdata regeneration while the oracle re-signed the new one
      val fp = graft.sources.Snapshots.fileFingerprint(s"$dir/documents.parquet")
        .replaceAll("[^A-Za-z0-9]", "").take(16)
      val table = graft.Roots.scratch + "/minhash_index/v1_" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + fp
      if (graft.sources.Snapshots.currentVersion(table) == 0) {
        graft.sources.Snapshots.gcSiblingRoots(table)
        buildBandIndex(d.where(col("doc_id") % 10 =!= 0), table)
      }
      dedupAgainstIndex(d.where(col("doc_id") % 10 === 0), table,
        indexVersion = 1, streamId = "d_dedup_incremental", batchId = 0L)
    },
    Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
         sh AS (SELECT doc_id, ${gramsSql(3)} AS shingles FROM tk),
         sg AS (SELECT doc_id, shingles, list_transform(range(0, $K), k ->
             list_min(list_transform(shingles, h ->
               ((2*k+1)*(h % $HashP) + ((k*2654435761) % $HashP)) % $HashP))) AS sig
           FROM sh),
         bx AS (SELECT doc_id, unnest(range(0, $Bands)) AS band, sig FROM sg),
         bb AS (SELECT doc_id, band, ${bandBucketSql("band")} AS bucket FROM bx),
         cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM bb l JOIN bb r
             ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
         pj AS (SELECT c.a, c.b, len(list_intersect(sa.shingles, sb.shingles)) AS inter,
               len(sa.shingles) AS za, len(sb.shingles) AS zb
             FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b),
         near AS (SELECT * FROM (SELECT a, b,
               CAST(inter AS DOUBLE)/(za + zb - inter) AS jaccard FROM pj) x
             WHERE jaccard >= $SimT),
         per AS (SELECT doc_id, COUNT(*) AS n_near_dups, MAX(jaccard) AS max_jaccard FROM
             (SELECT a AS doc_id, jaccard FROM near
              UNION ALL SELECT b AS doc_id, jaccard FROM near) u GROUP BY doc_id)
         SELECT sg.doc_id, CAST(len(sg.shingles) AS BIGINT) AS n_shingles,
           COALESCE(per.n_near_dups, 0) AS n_near_dups,
           COALESCE(per.max_jaccard, -1.0) AS max_jaccard
         FROM sg LEFT JOIN per ON sg.doc_id = per.doc_id
         WHERE sg.doc_id % 10 = 0"""))

  val cluster: QueryDef = QueryDef(
    "d_dedup_cluster",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val pairs = nearDupPairsTable(s, dir)
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
        .localCheckpoint()
      // iterate only over edge-touched vertices (a vertex with no
      // edges never changes label); isolated docs join back as
      // singletons after convergence — at scale the iteration frame
      // is the near-dup subgraph, not the corpus
      val touched = edges.select(col("src").as("v")).distinct()
      val labels = connectedComponents(touched, edges)
      val size = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
      val clustered = labels.join(size, "label")
        .select(col("v").as("doc_id"), col("label").as("canonical_id"),
          col("cluster_size"))
      val isolated = d.select(col("doc_id")).join(touched.toDF("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("canonical_id"),
          lit(1L).as("cluster_size"))
      clustered.unionAll(isolated)
    },
    Some(s"""WITH RECURSIVE $ngramPairsSql,
         edges AS (SELECT a AS src, b AS dst FROM pairs
                   UNION ALL SELECT b, a FROM pairs),
         reach(src, node) AS (
           SELECT doc_id AS src, doc_id AS node FROM documents
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src),
         canon AS (SELECT src AS doc_id, MIN(node) AS canonical_id
                   FROM reach GROUP BY src),
         sz AS (SELECT canonical_id, COUNT(*) AS cluster_size
                FROM canon GROUP BY canonical_id)
         SELECT c.doc_id, c.canonical_id, sz.cluster_size
         FROM canon c JOIN sz USING (canonical_id)"""))

  /** Canonical-document SELECTION BY QUALITY — the step after
    * clustering in a real pipeline: within each near-dup cluster keep
    * the longest document (ties to the smaller id) rather than
    * blindly the smallest id. Composition of the cluster labels with
    * a per-cluster argmax window; the window partitions by cluster
    * label (cardinality grows with the corpus, partitions stay
    * cluster-sized). Emits one row per KEPT document with how many
    * duplicates it absorbed.
    */
  val canonicalByQuality: QueryDef = QueryDef(
    "d_dedup_canonical",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val pairs = nearDupPairsTable(s, dir)
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
        .localCheckpoint()
      val touched = edges.select(col("src").as("v")).distinct()
      val labels = connectedComponents(touched, edges)
      val byQuality = Window.partitionBy("label")
        .orderBy(col("n_chars").desc, col("doc_id"))
      val kept = labels.join(d.select(col("doc_id"), col("n_chars")),
          col("v") === col("doc_id"))
        .withColumn("rk", row_number().over(byQuality))
        .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("label")))
        .where(col("rk") === 1)
        .select(col("doc_id"), col("n_chars"),
          (col("cluster_size") - 1).cast("long").as("n_absorbed"))
      val isolated = d.select(col("doc_id"), col("n_chars"))
        .join(touched.toDF("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_chars"), lit(0L).as("n_absorbed"))
      kept.unionAll(isolated)
    },
    Some(s"""WITH RECURSIVE $ngramPairsSql,
         edges AS (SELECT a AS src, b AS dst FROM pairs
                   UNION ALL SELECT b, a FROM pairs),
         reach(src, node) AS (
           SELECT doc_id AS src, doc_id AS node FROM documents
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src),
         canon AS (SELECT src AS doc_id, MIN(node) AS label
                   FROM reach GROUP BY src),
         ranked AS (SELECT c.doc_id, d.n_chars, c.label,
             ROW_NUMBER() OVER (PARTITION BY c.label
                                ORDER BY d.n_chars DESC, c.doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY c.label) AS cluster_size
           FROM canon c JOIN documents d USING (doc_id))
         SELECT doc_id, n_chars, CAST(cluster_size - 1 AS BIGINT) AS n_absorbed
         FROM ranked WHERE rk = 1"""))

  /** Per-source dedup audit — the observability rollup a pipeline
    * operator reads before deciding which crawl sources to keep: for
    * each source, doc count, distinct RAW fingerprints, distinct
    * NORMALIZED fingerprints (the `t_normalize` lowercase/strip/
    * collapse form), and the two duplication rates in exact fixed
    * point. The (norm − raw) gap isolates case/punct/spacing variants
    * that raw exact dedup misses — the signal that decides whether a
    * source needs the normalized pass at all.
    *
    * Scale shape: one aggregate over 16-byte fingerprints keyed by
    * source (two count-distincts share the shuffle via Spark's expand
    * — still fingerprint-sized rows, never text); output = one row
    * per source.
    */
  val dedupReport: QueryDef = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    QueryDef(
      "d_dedup_report",
      (s, dir) => Tables.load(s, dir, "documents")
        .select(col("source"), md5(col("text")).as("raw_fp"), md5(norm).as("norm_fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("raw_fp")).as("n_raw_unique"),
          countDistinct(col("norm_fp")).as("n_norm_unique"))
        .select(col("source"), col("n_docs"), col("n_raw_unique"), col("n_norm_unique"),
          expr("((n_docs - n_raw_unique) * 1000) div n_docs").as("raw_dup_x1000"),
          expr("((n_docs - n_norm_unique) * 1000) div n_docs").as("norm_dup_x1000")),
      Some("""WITH f AS (SELECT source, md5(text) AS raw_fp,
              md5(TRIM(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_fp
            FROM documents),
            a AS (SELECT source, COUNT(*) AS n_docs,
                COUNT(DISTINCT raw_fp) AS n_raw_unique,
                COUNT(DISTINCT norm_fp) AS n_norm_unique
              FROM f GROUP BY 1)
            SELECT source, n_docs, n_raw_unique, n_norm_unique,
              ((n_docs - n_raw_unique) * 1000) // n_docs AS raw_dup_x1000,
              ((n_docs - n_norm_unique) * 1000) // n_docs AS norm_dup_x1000
            FROM a"""))
  }

  /** Cross-source vocabulary overlap — the MIRROR-DOMAIN detector a
    * crawl-curation pipeline runs at the SOURCE level (doc-level dedup
    * can't see that two hosts serve the same site under different
    * boilerplate): each source is summarized by its top-50 terms
    * (frequency heavy hitters, deterministic ties), and source pairs
    * are scored by the Jaccard of those term sets in exact fixed
    * point. Pairs sharing no top term carry no signal and are
    * omitted (identically in both engines — a zero row can't rank).
    *
    * Scale shape: per-source vocabularies via one (source, term)
    * count + a per-source top-k window (vocabulary-sized, map-side
    * combined — documents never pairwise); the pair scores come from
    * a TERM-keyed self-join of the 50-row summaries — #sources × 50
    * rows, tiny at any corpus size. This is the point: source-level
    * similarity reduces an N²-doc problem to an S²-summary one.
    */
  val sourceOverlap: QueryDef = QueryDef(
    "d_source_overlap",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val tf = Tables.load(s, dir, "documents")
        .select(col("source"),
          explode(expr("filter(split(lower(text), ' '), x -> x <> '')")).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      val top = tf.withColumn("rk", row_number().over(
          W.partitionBy("source").orderBy(col("cnt").desc, col("term"))))
        .where(col("rk") <= 50).select("source", "term").localCheckpoint()
      val sizes = broadcast(top.groupBy(col("source").as("sz_s"))
        .agg(count(lit(1)).as("sz")))
      val inter = top.toDF("s1", "term")
        .join(top.toDF("s2", "t2"), col("term") === col("t2") && col("s1") < col("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("inter"))
      inter
        .join(sizes, col("s1") === col("sz_s")).withColumnRenamed("sz", "n1").drop("sz_s")
        .join(sizes, col("s2") === col("sz_s")).withColumnRenamed("sz", "n2").drop("sz_s")
        .select(col("s1"), col("s2"), col("inter"),
          expr("(inter * 1000) div (n1 + n2 - inter)").as("jaccard_x1000"))
    },
    Some("""WITH tk AS (SELECT source,
              unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term
            FROM documents),
            tf AS (SELECT source, term, COUNT(*) AS cnt FROM tk GROUP BY 1, 2),
            top AS (SELECT source, term FROM (
                SELECT source, term, ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY cnt DESC, term) AS rk FROM tf) t
              WHERE rk <= 50),
            sz AS (SELECT source, COUNT(*) AS n FROM top GROUP BY 1),
            i AS (SELECT a.source AS s1, b.source AS s2, COUNT(*) AS inter
              FROM top a JOIN top b ON a.term = b.term AND a.source < b.source
              GROUP BY 1, 2)
            SELECT s1, s2, inter,
              (inter * 1000) // (x.n + y.n - inter) AS jaccard_x1000
            FROM i JOIN sz x ON i.s1 = x.source JOIN sz y ON i.s2 = y.source"""))

  /** CONTAINMENT near-dup detection — the asymmetric case symmetric
    * Jaccard structurally misses: a short document quoted wholesale
    * inside a longer one has high overlap coefficient
    * |A∩B| / min(|A|,|B|) but low Jaccard (the union is dominated by
    * the longer doc). Pairs are ordered (small, big) by (gram count,
    * doc_id), scored in exact fixed point, kept at ≥ 0.8.
    *
    * Candidate generation is the one-sided prefix filter: under the
    * global (df asc, gram) order, overlap ≥ ⌈t·|A|⌉ forces one of A's
    * first |A| − ⌈t·|A|⌉ + 1 grams to appear ANYWHERE in B — so only
    * the smaller side's prefix joins the full inverted index (no
    * length-band blocking, which would hide exactly the cross-length
    * pairs this operator exists for). LOSSLESS, so the oracle verifies
    * by exhaustive within-lang comparison. Scale shape: the prefix is
    * ~(1−t)·|A| rare-gram entries per doc; candidates key on gram df
    * like PPJoin (rare grams → small postings); verification is the
    * sorted-intersect join on O(candidates).
    */
  val containment: QueryDef = {
    val T = 0.8
    QueryDef(
      "d_dedup_containment",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val g = d.select(col("doc_id"), col("lang"),
          graft.functions.Native.wordNGramHashes(col("text"), 2).as("grams"))
          .withColumn("sz", size(col("grams")).cast("long"))
          .localCheckpoint()
        val inv = g.select(col("doc_id"), col("lang"), col("sz"),
          explode(col("grams")).as("gram"))
        val dfreq = inv.groupBy("lang", "gram").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy("doc_id").orderBy(col("df"), col("gram"))
        val prefix = inv.join(dfreq.hint("shuffle_hash"), Seq("lang", "gram"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= col("sz") - ceil(lit(T) * col("sz")) + 1)
          .select("doc_id", "lang", "sz", "gram")
        val cand = prefix.toDF("small", "lang", "sz_s", "gram")
          .join(inv.select(col("doc_id").as("big"), col("lang"),
            col("sz").as("sz_b"), col("gram")), Seq("lang", "gram"))
          .where(col("sz_s") < col("sz_b") ||
            (col("sz_s") === col("sz_b") && col("small") < col("big")))
          .select("small", "big").distinct()
        val inter = graft.functions.Native.sortedIntersectSize(col("g_s"), col("g_b"))
        cand
          .join(g.select(col("doc_id").as("small"), col("grams").as("g_s"),
            col("sz").as("sz_small")), "small")
          .join(g.select(col("doc_id").as("big"), col("grams").as("g_b"),
            col("sz").as("sz_big")), "big")
          .select(col("small"), col("big"), col("sz_small"), col("sz_big"),
            inter.as("inter"))
          .withColumn("containment_x1000", expr("(inter * 1000) div sz_small"))
          .where(col("containment_x1000") >= (T * 1000).toLong)
          .select("small", "big", "sz_small", "sz_big", "containment_x1000")
      },
      Some(s"""WITH tk AS (SELECT doc_id, lang, $tokensSql AS tk FROM documents),
           g AS (SELECT doc_id, lang, ${gramsSql(2)} AS grams FROM tk),
           p AS (SELECT x.doc_id AS small, y.doc_id AS big,
               CAST(len(x.grams) AS BIGINT) AS sz_small,
               CAST(len(y.grams) AS BIGINT) AS sz_big,
               CAST(len(list_intersect(x.grams, y.grams)) AS BIGINT) AS inter
             FROM g x JOIN g y ON x.lang = y.lang
               AND (len(x.grams) < len(y.grams) OR
                    (len(x.grams) = len(y.grams) AND x.doc_id < y.doc_id)))
           SELECT small, big, sz_small, sz_big,
             (inter * 1000) // sz_small AS containment_x1000
           FROM p WHERE (inter * 1000) // sz_small >= 800"""))
  }

  /** LEAKAGE-SAFE train/val/test split — the dedup-aware upgrade of
    * the plain key-hash split (`t_train_test_split`): near-duplicate
    * documents hashed independently can land the SAME content in both
    * train and test (the classic eval-contamination bug), so here the
    * split key is the NEAR-DUP CLUSTER's canonical id (the
    * `d_dedup_cluster` component label) — every member of a duplicate
    * cluster rides the same 8/1/1 bucket. Reported per split (docs,
    * clusters, carried dup-cluster rows) next to the COUNTERFACTUAL:
    * how many multi-doc clusters the naive per-doc hash would have
    * torn across splits (`naive_leak_groups` — the leakage this
    * operator removes; the cluster-keyed assignment tears zero by
    * construction, emitted as the computed `safe_leak_groups` check,
    * not a constant).
    *
    * Scale shape: the clustering is `d_dedup_cluster`'s (LSH-bounded
    * pair generation + O(diameter) label propagation); on top of it
    * the split adds one map-side hash and two tiny aggregates.
    */
  val splitLeakage: QueryDef = QueryDef(
    "d_split_leakage",
    (s, dir) => {
      val bucket =
        pmod(graft.functions.Native.h60(col("canonical_id").cast("string")), lit(10L))
      val naiveBucket =
        pmod(graft.functions.Native.h60(col("doc_id").cast("string")), lit(10L))
      val assigned = cluster.fn(s, dir)
        .withColumn("split",
          when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test"))
        .withColumn("naive_split",
          when(naiveBucket < 8, "train").when(naiveBucket === 8, "val").otherwise("test"))
        .localCheckpoint()
      val perSplit = assigned.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("canonical_id")).as("n_clusters"),
          sum(when(col("cluster_size") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      def leaks(splitCol: String, out: String) = assigned
        .where(col("cluster_size") > 1)
        .groupBy("canonical_id").agg(countDistinct(col(splitCol)).as("ns"))
        .agg(coalesce(sum(when(col("ns") > 1, 1L).otherwise(0L)), lit(0L)).as(out))
      perSplit.crossJoin(broadcast(leaks("naive_split", "naive_leak_groups")))
        .crossJoin(broadcast(leaks("split", "safe_leak_groups")))
        .select(col("split"), col("n_docs"), col("n_clusters"), col("n_dup_docs"),
          col("naive_leak_groups"), col("safe_leak_groups"))
    },
    Some(s"""WITH RECURSIVE $ngramPairsSql,
            edges AS (SELECT a AS src, b AS dst FROM pairs
                      UNION ALL SELECT b, a FROM pairs),
            reach(src, node) AS (
              SELECT doc_id AS src, doc_id AS node FROM documents
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src),
            canon AS (SELECT src AS doc_id, MIN(node) AS canonical_id
                      FROM reach GROUP BY src),
            sz AS (SELECT canonical_id, COUNT(*) AS cluster_size
                   FROM canon GROUP BY canonical_id),
            a AS (SELECT c.doc_id, c.canonical_id, sz.cluster_size,
                CASE WHEN ${graft.functions.Portable.textSql.h60("CAST(c.canonical_id AS VARCHAR)")} % 10 < 8 THEN 'train'
                     WHEN ${graft.functions.Portable.textSql.h60("CAST(c.canonical_id AS VARCHAR)")} % 10 = 8 THEN 'val'
                     ELSE 'test' END AS split,
                CASE WHEN ${graft.functions.Portable.textSql.h60("CAST(c.doc_id AS VARCHAR)")} % 10 < 8 THEN 'train'
                     WHEN ${graft.functions.Portable.textSql.h60("CAST(c.doc_id AS VARCHAR)")} % 10 = 8 THEN 'val'
                     ELSE 'test' END AS naive_split
              FROM canon c JOIN sz USING (canonical_id)),
            ps AS (SELECT split, COUNT(*) AS n_docs,
                COUNT(DISTINCT canonical_id) AS n_clusters,
                CAST(SUM(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
              FROM a GROUP BY 1),
            nl AS (SELECT COALESCE(CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT), 0)
                AS naive_leak_groups
              FROM (SELECT canonical_id, COUNT(DISTINCT naive_split) AS ns
                FROM a WHERE cluster_size > 1 GROUP BY 1) t),
            sl AS (SELECT COALESCE(CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT), 0)
                AS safe_leak_groups
              FROM (SELECT canonical_id, COUNT(DISTINCT split) AS ns
                FROM a WHERE cluster_size > 1 GROUP BY 1) t)
            SELECT ps.split, ps.n_docs, ps.n_clusters, ps.n_dup_docs,
              nl.naive_leak_groups, sl.safe_leak_groups
            FROM ps, nl, sl"""))

  /** Corpus source-DIVERSITY audit (Gini–Simpson) — per language: how
    * concentrated the corpus is across sources, as the exact-rational
    * Gini–Simpson index `1 − Σp_s²` ×10⁶ (`(n² − Σn_s²)·10⁶ div n²`)
    * plus the inverse-Simpson EFFECTIVE source count ×1000
    * (`n²·1000 div Σn_s²` — "this slice behaves like ~N.n equally
    * sized sources"). The mixing-health dashboard row a curation
    * pipeline watches: a diversity collapse after aggressive
    * filtering means one domain took over. Entropy needs ln (not
    * bit-portable); Simpson is the exact-integer diversity index.
    *
    * Scale shape: ONE (lang, source) count aggregate (map-side
    * combined), folded per lang — output = #langs rows.
    */
  val corpusDiversity: QueryDef = QueryDef(
    "d_corpus_diversity",
    (s, dir) => {
      Tables.load(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("ns"))
        .groupBy("lang")
        .agg(sum(col("ns")).as("n_docs"),
          count(lit(1)).as("n_sources"),
          sum(col("ns") * col("ns")).as("ss"))
        .select(col("lang"), col("n_docs"), col("n_sources"),
          expr("((n_docs * n_docs - ss) * 1000000) div (n_docs * n_docs)")
            .as("simpson_x1e6"),
          expr("(n_docs * n_docs * 1000) div ss").as("eff_sources_x1000"))
    },
    Some("""WITH c AS (SELECT lang, source, COUNT(*) AS ns
              FROM documents GROUP BY 1, 2),
            l AS (SELECT lang, CAST(SUM(ns) AS BIGINT) AS n_docs,
                COUNT(*) AS n_sources, CAST(SUM(ns * ns) AS BIGINT) AS ss
              FROM c GROUP BY 1)
            SELECT lang, n_docs, n_sources,
              ((n_docs * n_docs - ss) * 1000000) // (n_docs * n_docs) AS simpson_x1e6,
              (n_docs * n_docs * 1000) // ss AS eff_sources_x1000
            FROM l"""))

  /** MinHash ESTIMATOR-ACCURACY audit — per band-collision candidate
    * pair, the signature-agreement Jaccard estimate (matching rows /
    * K ×1000) next to the exact shingle Jaccard ×1000, their absolute
    * error, and two verdicts: `within_2se` (error ≤ 300 ≈ 2 standard
    * errors at K=32 — the Chernoff-style band the estimator is
    * supposed to hold) and `decision_agree` (estimate and truth land
    * on the same side of the 0.5 dedup threshold — the error that
    * actually matters operationally). This is the sketch-audit
    * convention (`q_approx_stats`, `t_heavy_hitters`) applied to the
    * workhorse dedup estimator: at 100 TB the verify stage MAY be
    * dropped and decisions made from signatures alone — this query
    * measures exactly what that would cost.
    *
    * Scale shape: identical to [[minhash]] (banded candidates, never
    * all-pairs); the signature comparison is a per-pair 32-element
    * zip — cheaper than the exact-intersect verify it audits.
    */
  val minhashAccuracy: QueryDef = QueryDef(
    "d_minhash_accuracy",
    (s, dir) => {
      val sg = signed(Tables.load(s, dir, "documents"))
      val pairs = minhashCandidates(sg)
      val sa = sg.select(col("doc_id").as("a"), col("shingles").as("sh_a"),
        col("sig").as("sig_a"))
      val sb = sg.select(col("doc_id").as("b"), col("shingles").as("sh_b"),
        col("sig").as("sig_b"))
      val inter = graft.functions.Native.sortedIntersectSize(col("sh_a"), col("sh_b"))
      pairs.join(sa, "a").join(sb, "b")
        .select(col("a"), col("b"), inter.as("inter"),
          (size(col("sh_a")) + size(col("sh_b"))).cast("long").as("zsum"),
          expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> if(x = y, 1L, 0L)), 0L, (acc, v) -> acc + v)")
            .as("matches"))
        .select(col("a"), col("b"),
          // nullif guard: an empty-shingle pair (union size 0) yields NULL
          // instead of relying on the all-NULL-signature invariant to keep
          // such docs out of band collisions (identical nullif in DuckDB)
          expr("(inter * 1000) div nullif(zsum - inter, 0)").as("exact_x1000"),
          expr(s"(matches * 1000) div $K").as("est_x1000"))
        .select(col("a"), col("b"), col("exact_x1000"), col("est_x1000"),
          abs(col("est_x1000") - col("exact_x1000")).as("abs_err"),
          (abs(col("est_x1000") - col("exact_x1000")) <= 300).as("within_2se"),
          ((col("est_x1000") >= 500) === (col("exact_x1000") >= 500))
            .as("decision_agree"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
         sh AS (SELECT doc_id, ${gramsSql(3)} AS shingles FROM tk),
         sg AS (SELECT doc_id, shingles, list_transform(range(0, $K), k ->
             list_min(list_transform(shingles, h ->
               ((2*k+1)*(h % $HashP) + ((k*2654435761) % $HashP)) % $HashP))) AS sig
           FROM sh),
         bx AS (SELECT doc_id, unnest(range(0, $Bands)) AS band, sig FROM sg),
         bb AS (SELECT doc_id, band, ${bandBucketSql("band")} AS bucket FROM bx),
         cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM bb l JOIN bb r
             ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
         pj AS (SELECT c.a, c.b,
               CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS inter,
               CAST(len(sa.shingles) + len(sb.shingles) AS BIGINT) AS zsum,
               CAST(len(list_filter(list_zip(sa.sig, sb.sig), z -> z[1] = z[2])) AS BIGINT)
                 AS matches
             FROM cand c JOIN sg sa ON sa.doc_id = c.a JOIN sg sb ON sb.doc_id = c.b),
         m AS (SELECT a, b, (inter * 1000) // NULLIF(zsum - inter, 0) AS exact_x1000,
               (matches * 1000) // $K AS est_x1000 FROM pj)
         SELECT a, b, exact_x1000, est_x1000,
           ABS(est_x1000 - exact_x1000) AS abs_err,
           ABS(est_x1000 - exact_x1000) <= 300 AS within_2se,
           (est_x1000 >= 500) = (exact_x1000 >= 500) AS decision_agree
         FROM m"""))

  /** LSH BAND PLANNER — the artifact that justifies (bands, rows)
    * with data instead of folklore: for each similarity level s (10
    * bins of 0.1), the theoretical band-collision detection
    * probability 1 − (1 − s^r)^b of the configured scheme (r = 4,
    * b = 8) next to the MEASURED candidate-pair count at that
    * similarity — the S-curve an operator reads before re-tuning the
    * scheme for a new corpus (raise b to catch more 0.4-similarity
    * pairs, raise r to starve the sub-threshold bins). The probability
    * chain is pure left-associative double multiplication, written
    * with the IDENTICAL text in both engines, so the whole curve is
    * hash-exact.
    *
    * Scale shape: same banded candidate generation as [[minhash]]
    * (never all-pairs); the curve itself is 10 rows of arithmetic.
    */
  val lshPlanner: QueryDef = {
    // p_detect = 1 − (1 − s^Rows)^Bands, as chained multiplication —
    // the same character sequence parses in Spark and DuckDB, making
    // the IEEE evaluation order identical by construction
    val sTxt = "(CAST(s_x1000 AS DOUBLE)/1000.0)"
    val s4 = s"($sTxt*$sTxt*$sTxt*$sTxt)"
    val q1 = s"(1.0 - $s4)"
    val q8 = s"($q1*$q1*$q1*$q1*$q1*$q1*$q1*$q1)"
    val pTxt = s"(1.0 - $q8)"
    QueryDef(
      "d_lsh_planner",
      (s, dir) => {
        val sg = signed(Tables.load(s, dir, "documents"))
        val pairs = minhashCandidates(sg)
        val sa = sg.select(col("doc_id").as("a"), col("shingles").as("sh_a"))
        val sb = sg.select(col("doc_id").as("b"), col("shingles").as("sh_b"))
        val inter = graft.functions.Native.sortedIntersectSize(col("sh_a"), col("sh_b"))
        val binned = pairs.join(sa, "a").join(sb, "b")
          .select(inter.as("inter"),
            (size(col("sh_a")) + size(col("sh_b"))).cast("long").as("zsum"))
          .where(col("zsum") - col("inter") > 0)
          .select(expr("least((inter * 1000) div (zsum - inter), 999) div 100").as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("n"))
        s.range(0, 10).select(col("id").as("bin"))
          .join(binned, Seq("bin"), "left")
          .select((col("bin") * 100 + 50).as("s_x1000"),
            coalesce(col("n"), lit(0L)).as("n_candidate_pairs"))
          .select(col("s_x1000"), col("n_candidate_pairs"),
            expr(pTxt).as("p_detect"),
            expr(s"cast(floor(CAST(n_candidate_pairs AS DOUBLE) * $pTxt * 1000.0) as long)")
              .as("expected_detected_x1000"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
           sh AS (SELECT doc_id, ${gramsSql(3)} AS shingles FROM tk),
           sg AS (SELECT doc_id, shingles, list_transform(range(0, $K), k ->
               list_min(list_transform(shingles, h ->
                 ((2*k+1)*(h % $HashP) + ((k*2654435761) % $HashP)) % $HashP))) AS sig
             FROM sh),
           bx AS (SELECT doc_id, unnest(range(0, $Bands)) AS band, sig FROM sg),
           bb AS (SELECT doc_id, band, ${bandBucketSql("band")} AS bucket FROM bx),
           cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM bb l JOIN bb r
               ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
           pj AS (SELECT CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS inter,
                 CAST(len(sa.shingles) + len(sb.shingles) AS BIGINT) AS zsum
               FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b),
           bins AS (SELECT LEAST((inter * 1000) // (zsum - inter), 999) // 100 AS bin
               FROM pj WHERE zsum - inter > 0),
           cnt AS (SELECT bin, COUNT(*) AS n FROM bins GROUP BY 1),
           grid AS (SELECT unnest(range(0, 10)) AS bin),
           g2 AS (SELECT bin * 100 + 50 AS s_x1000,
               COALESCE(n, 0) AS n_candidate_pairs
             FROM grid LEFT JOIN cnt USING (bin))
           SELECT s_x1000, n_candidate_pairs, $pTxt AS p_detect,
             CAST(FLOOR(CAST(n_candidate_pairs AS DOUBLE) * $pTxt * 1000.0) AS BIGINT)
               AS expected_detected_x1000
           FROM g2"""))
  }

  /** LSH BUCKET-OCCUPANCY stats — the operational observability of the
    * banded join (the skew early-warning `q_skew_profile` gives shuffle
    * keys, applied to the dedup index itself): per band, bucket count,
    * singleton count (buckets generating NO candidates — dead weight),
    * the largest bucket (one viral boilerplate text = one hot bucket =
    * one straggler task), and the implied candidate-pair total
    * Σ sz·(sz−1)/2 — the EXACT work the verify stage will pay, read
    * BEFORE running it. sz·(sz−1) is always even so the /2 is exact.
    *
    * Scale shape: one (band, bucket) count aggregate (map-side
    * combined) + one per-band rollup of ≤ bucket-count rows. Strictly
    * cheaper than the candidate join it predicts.
    */
  val bucketStats: QueryDef = QueryDef(
    "d_lsh_bucket_stats",
    (s, dir) => {
      val sizes = bandedSigned(Tables.load(s, dir, "documents"))
        .groupBy(col("band").cast("long").as("band"), col("bucket"))
        .agg(count(lit(1)).as("sz"))
      sizes.groupBy("band")
        .agg(count(lit(1)).as("n_buckets"),
          sum(when(col("sz") === 1, 1L).otherwise(0L)).as("n_singletons"),
          max(col("sz")).as("max_bucket"),
          expr("sum(sz * (sz - 1)) div 2").as("candidate_pairs"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
         sh AS (SELECT doc_id, ${gramsSql(3)} AS shingles FROM tk),
         sg AS (SELECT doc_id, shingles, list_transform(range(0, $K), k ->
             list_min(list_transform(shingles, h ->
               ((2*k+1)*(h % $HashP) + ((k*2654435761) % $HashP)) % $HashP))) AS sig
           FROM sh),
         bx AS (SELECT doc_id, unnest(range(0, $Bands)) AS band, sig FROM sg),
         bb AS (SELECT doc_id, band, ${bandBucketSql("band")} AS bucket FROM bx),
         sz AS (SELECT band, bucket, COUNT(*) AS sz FROM bb GROUP BY 1, 2)
         SELECT band, COUNT(*) AS n_buckets,
           CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
           MAX(sz) AS max_bucket,
           CAST(SUM(sz * (sz - 1)) AS BIGINT) // 2 AS candidate_pairs
         FROM sz GROUP BY 1"""))

  /** INCREMENTAL EXACT dedup — the most common production dedup shape,
    * completing the incremental ladder (minhash 22b / semantic 24d /
    * BM25 / IVF / checksum all have `_incremental` forms; exact did
    * not): the base corpus's (md5 fingerprint → canonical doc_id)
    * index is a persisted content-keyed snapshot; a new batch appends
    * its own per-fingerprint minima EXACTLY-ONCE (ingestBatch replay
    * no-ops) and dedups against pinned base ∪ batch. min() over both
    * sides equals the full-corpus minimum for every fingerprint a
    * batch doc belongs to — which is exactly what the full-recompute
    * oracle asserts.
    *
    * Scale shape: O(batch) per cycle — one batch-side groupBy on the
    * 16-byte fingerprint, one equi-join against the index on the same
    * key (bucketable); the base is never rescanned.
    */
  val exactIncremental: QueryDef = QueryDef(
    "d_dedup_exact_incremental",
    (s, dir) => {
      import graft.sources.Snapshots
      val d = Tables.load(s, dir, "documents")
      val fpKey = Snapshots.fileFingerprint(s"$dir/documents.parquet")
        .replaceAll("[^A-Za-z0-9]", "").take(16)
      val root = graft.Roots.scratch + "/exactdedup/" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + fpKey
      if (Snapshots.currentVersion(root) == 0) {
        Snapshots.gcSiblingRoots(root)
        Snapshots.commitOverwrite(
          d.where(col("doc_id") % 10 =!= 0)
            .groupBy(md5(col("text")).as("fp"))
            .agg(min(col("doc_id")).as("canonical_id")),
          root)
      }
      val batch = d.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), md5(col("text")).as("fp")).localCheckpoint()
      val batchIdx = batch.groupBy("fp").agg(min(col("doc_id")).as("canonical_id"))
      Snapshots.ingestBatch(batchIdx, root, "d_dedup_exact_incremental", 0L)
      // pinned base (v1): replays read the same comparison set
      val combined = Snapshots.readVersion(s, root, 1).unionByName(batchIdx)
        .groupBy("fp").agg(min(col("canonical_id")).as("canonical_id"))
      batch.join(combined, Seq("fp"))
        .select(col("doc_id"), col("canonical_id"),
          (col("canonical_id") =!= col("doc_id")).as("is_dup"))
    },
    Some("""WITH fps AS (SELECT doc_id, md5(text) AS fp FROM documents),
         canon AS (SELECT fp, MIN(doc_id) AS canonical_id FROM fps GROUP BY 1)
         SELECT f.doc_id, c.canonical_id, c.canonical_id <> f.doc_id AS is_dup
         FROM fps f JOIN canon c USING (fp) WHERE f.doc_id % 10 = 0"""))

  /** MEASURED threshold sweep — the empirical counterpart of
    * [[lshPlanner]]'s theoretical S-curve: for τ ∈ {0.3, 0.5, 0.7},
    * how many verified candidate pairs clear it and how much of the
    * corpus the "drop the higher-id member of every ≥τ pair" policy
    * would remove. ONE banded-candidate + verify pass, reused by every
    * sweep point (filter on the already-computed Jaccard, never a
    * re-verify) — the number an operator reads before committing to a
    * dedup threshold.
    */
  val thresholdSweep: QueryDef = QueryDef(
    "d_dedup_threshold_sweep",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val sg = signed(d)
      val sa = sg.select(col("doc_id").as("a"), col("shingles").as("sh_a"))
      val sb = sg.select(col("doc_id").as("b"), col("shingles").as("sh_b"))
      val inter = graft.functions.Native.sortedIntersectSize(col("sh_a"), col("sh_b"))
      val scored = minhashCandidates(sg).join(sa, "a").join(sb, "b")
        .select(col("b"), inter.as("inter"),
          (size(col("sh_a")) + size(col("sh_b"))).cast("long").as("zsum"))
        .where(col("zsum") - col("inter") > 0)
        .select(col("b"),
          expr("(inter * 1000) div (zsum - inter)").as("j1000"))
        .localCheckpoint()
      val nDocs = broadcast(d.agg(count(lit(1)).as("n_docs")))
      Seq(300L, 500L, 700L).map { tau =>
        scored.where(col("j1000") >= tau)
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("b")).as("n_docs_dropped"))
          .crossJoin(nDocs)
          .select(lit(tau).as("tau_x1000"), col("n_pairs"), col("n_docs_dropped"),
            expr("(n_docs_dropped * 1000) div nullif(n_docs, 0)").as("drop_rate_x1000"))
      }.reduce(_ unionAll _)
    },
    Some {
      val sweep = Seq(300, 500, 700).map { tau =>
        s"""SELECT CAST($tau AS BIGINT) AS tau_x1000, COUNT(*) AS n_pairs,
            COUNT(DISTINCT b) AS n_docs_dropped,
            (COUNT(DISTINCT b) * 1000) // NULLIF((SELECT COUNT(*) FROM documents), 0) AS drop_rate_x1000
            FROM sc WHERE j1000 >= $tau"""
      }.mkString(" UNION ALL ")
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
         sh AS (SELECT doc_id, ${gramsSql(3)} AS shingles FROM tk),
         sg AS (SELECT doc_id, shingles, list_transform(range(0, $K), k ->
             list_min(list_transform(shingles, h ->
               ((2*k+1)*(h % $HashP) + ((k*2654435761) % $HashP)) % $HashP))) AS sig
           FROM sh),
         bx AS (SELECT doc_id, unnest(range(0, $Bands)) AS band, sig FROM sg),
         bb AS (SELECT doc_id, band, ${bandBucketSql("band")} AS bucket FROM bx),
         cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM bb l JOIN bb r
             ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
         pj AS (SELECT c.b, CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS inter,
               CAST(len(sa.shingles) + len(sb.shingles) AS BIGINT) AS zsum
             FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b),
         sc AS (SELECT b, (inter * 1000) // (zsum - inter) AS j1000
             FROM pj WHERE zsum - inter > 0)
         $sweep"""
    })

  /** CONTENT-DEFINED CHUNKING dedup — the rsync/LBFS rung of the
    * ladder: chunk boundaries come from the CONTENT (a cut after any
    * word 3-gram whose 60-bit hash ≡ 0 mod 8 → ~8-word expected
    * chunks), so an insertion early in a document shifts only the one
    * chunk it lands in — where fixed-size blocks would mis-align
    * every block after the edit. Chunks shared across ≥ 2 documents
    * are the verbatim-reuse report (boilerplate, templated spans,
    * quotation) at sub-paragraph granularity that row 21b's
    * delimiter-split chunks cannot see. Boundary and chunk hashing is
    * the portable md5-60bit (`conv(substr(md5(g),1,15),16,10)` ≡
    * DuckDB h60 digit fold), all positional HOF arithmetic — no UDF.
    *
    * Scale shape: chunking is map-side per document; only (chunk
    * hash, doc) pairs shuffle — corpus-linear, never pairwise; the
    * rollup groups on the hash with map-side combine. The
    * cross-document filter is HAVING over that single aggregation.
    */
  val cdcChunks: QueryDef = QueryDef(
    "d_dedup_cdc",
    (s, dir) => {
      val h60 = (g: String) =>
        s"cast(conv(substr(md5($g), 1, 15), 16, 10) as bigint)"
      Tables.load(s, dir, "documents")
        // positional gram hashes in one compiled pass (r15) — same h60
        // values and <3-token empty-array gate as the HOF form
        .select(col("doc_id"),
          expr("filter(split(lower(text), ' '), x -> x <> '')").as("tk"),
          graft.functions.Native.wordNGramPosHashes(lower(col("text")), 3).as("g"))
        .withColumn("cuts", expr(
          """filter(transform(g, (gh, gi) ->
              if(gh % 8 = 0 and gi + 3 < size(tk), gi + 3,
                 cast(null as int))), x -> x is not null)"""))
        .withColumn("bounds", expr("concat(array(0), cuts, array(size(tk)))"))
        .withColumn("chunk", explode(expr(
          s"""transform(sequence(1, size(bounds) - 1), bi ->
              named_struct(
                'h', ${h60("array_join(slice(tk, bounds[bi - 1] + 1, bounds[bi] - bounds[bi - 1]), ' ')")},
                'w', bounds[bi] - bounds[bi - 1]))""")))
        .groupBy(col("chunk.h").as("chunk_hash"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"),
          max(col("chunk.w")).cast("long").as("n_words"))
        .where(col("n_docs") >= 2)
    },
    Some {
      val h60 = (g: String) => graft.functions.Portable.textSql.h60(g)
      s"""WITH tk AS (SELECT doc_id,
            ${graft.functions.Portable.textSql.tokensLower} AS tk
          FROM documents),
          g AS (SELECT doc_id, tk,
              CASE WHEN len(tk) >= 3 THEN
                list_transform(range(1, len(tk) - 1),
                  gp -> CAST(${h60("array_to_string(tk[gp:gp+2], ' ')")} AS BIGINT))
              ELSE CAST([] AS BIGINT[]) END AS g
            FROM tk),
          c AS (SELECT doc_id, tk,
              list_concat(list_concat([CAST(0 AS BIGINT)],
                list_filter(list_transform(range(1, len(g) + 1),
                  gp -> CASE WHEN g[CAST(gp AS INT)] % 8 = 0
                      AND gp + 2 < len(tk) THEN gp + 2 END),
                  x -> x IS NOT NULL)),
                [CAST(len(tk) AS BIGINT)]) AS bounds
            FROM g),
          ch AS (SELECT doc_id,
              unnest(list_transform(range(1, len(bounds)), bi ->
                struct_pack(h := CAST(${h60("array_to_string(tk[CAST(bounds[CAST(bi AS INT)] + 1 AS INT):CAST(bounds[CAST(bi AS INT) + 1] AS INT)], ' ')")} AS BIGINT),
                  w := bounds[CAST(bi AS INT) + 1] - bounds[CAST(bi AS INT)])))
                AS chunk
            FROM c)
          SELECT chunk.h AS chunk_hash,
            CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
            COUNT(*) AS n_occurrences,
            CAST(MAX(chunk.w) AS BIGINT) AS n_words
          FROM ch GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2"""
    })

  /** WINNOWING fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm) — the guaranteed-detection rung of the ladder: over
    * the positional 3-gram hashes, every window of w=4 consecutive
    * hashes selects its minimum (rightmost on ties — the canonical
    * rule, so both engines pick the identical position), selected
    * positions dedupe per document, and fingerprints shared by ≥ 2
    * docs are reported. The winnowing guarantee: any verbatim match
    * of ≥ w+k−1 = 6 tokens shares at least one selected fingerprint —
    * unlike row 22's probabilistic MinHash, detection is certain,
    * at ~1/w the index size of indexing every gram (row 21c).
    *
    * Scale shape: grams are map-side; the per-window argmin is ONE
    * rolling min over a w-row ROWS frame on pos-ordered grams per doc
    * (round-14: replaces a ×w window-membership explode + per-(doc,
    * window) row_number — one shuffle keyed by doc, no fanout). Each
    * window's winner is min(struct(hash, −pos)) over its frame —
    * lexicographic struct ordering gives smallest hash, ties to the
    * LARGEST pos, i.e. the canonical rightmost-min rule, so the
    * selected set is identical to the row_number form. Per-doc keys
    * grow with the corpus, never a global sort; the rollup groups on
    * the fingerprint hash. Never pairwise.
    */
  val winnow: QueryDef = QueryDef(
    "d_dedup_winnow",
    (s, dir) => {
      val W = 4
      // positional gram hashes in one compiled pass (r15: replaces the
      // interpreted transform/slice/md5/conv HOF chain — same h60
      // values, same <3-token empty-array gate)
      val grams = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Native.wordNGramPosHashes(lower(col("text")), 3).as("g"))
        .select(col("doc_id"), size(col("g")).as("ng"),
          posexplode(col("g")).as(Seq("pos", "h")))
      // row at pos = window start j: frame [j, j + W - 1] holds exactly
      // the window's grams (positions are consecutive ints per doc)
      val w = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.currentRow, W - 1)
      // r15 exchange diet: the former distinct() + groupBy(h) +
      // countDistinct(doc_id) chain re-shuffled three times after the
      // window; grouping by (doc_id, h) first rides the window's
      // existing hash(doc_id) partitioning (zero new exchanges — the
      // per-(doc, fingerprint) distinct-position count is the same
      // dedup the distinct() did), leaving ONE exchange on the
      // fingerprint for the rollup. n_docs = one row per (doc_id, h)
      // group; n_occurrences = Σ per-doc distinct selected positions —
      // bit-identical to the distinct() form.
      grams
        .withColumn("sel",
          min(struct(col("h").as("mh"), (-col("pos")).as("np"))).over(w))
        .where(col("pos") <= col("ng") - W) // valid window starts only
        .select(col("doc_id"), col("sel.mh").as("h"),
          (-col("sel.np")).as("pos"))
        .groupBy(col("doc_id"), col("h"))
        .agg(countDistinct(col("pos")).as("occ"))
        .groupBy(col("h").as("fingerprint"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("occ")).as("n_occurrences"))
        .where(col("n_docs") >= 2)
    },
    Some {
      val h60 = (g: String) => graft.functions.Portable.textSql.h60(g)
      s"""WITH tk AS (SELECT doc_id,
            ${graft.functions.Portable.textSql.tokensLower} AS tk
          FROM documents),
          g AS (SELECT doc_id,
              CASE WHEN len(tk) >= 3 THEN
                list_transform(range(1, len(tk) - 1),
                  gp -> CAST(${h60("array_to_string(tk[gp:gp+2], ' ')")} AS BIGINT))
              ELSE CAST([] AS BIGINT[]) END AS g
            FROM tk),
          pg AS (SELECT doc_id, CAST(len(g) AS BIGINT) AS ng,
              unnest(range(1, len(g) + 1)) AS p1, unnest(g) AS h
            FROM g),
          iw AS (SELECT doc_id, p1 - 1 AS pos, h,
              unnest(range(greatest(0, p1 - 1 - 4 + 1),
                least(p1 - 1, ng - 4) + 1)) AS j
            FROM pg),
          win AS (SELECT doc_id, pos, h FROM (
              SELECT doc_id, pos, h,
                ROW_NUMBER() OVER (PARTITION BY doc_id, j
                  ORDER BY h, pos DESC) AS rn
              FROM iw) x WHERE rn = 1),
          sel AS (SELECT DISTINCT doc_id, pos, h FROM win)
          SELECT h AS fingerprint,
            CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
            COUNT(*) AS n_occurrences
          FROM sel GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2"""
    })

  /** PREFIX-duplicate detection — the truncation/pagination duplicate
    * class the exact (row 21) and substring (row 21c) rungs miss:
    * two crawls of one page cut at different points share a long
    * PREFIX but differ in suffix, so whole-doc hashes diverge and the
    * duplicated-span rung only finds interior chunks. Here every doc
    * with ≥ 8 tokens keys on the hash of its first 32 lowercased
    * tokens (the C4-style URL+prefix convention, content-keyed);
    * groups of ≥ 2 report their size and the token-length SPREAD —
    * max−min > 0 is the truncation signature, = 0 plain re-crawls.
    *
    * Scale shape: one map-side prefix hash + one hash-keyed
    * aggregate; never pairwise, no explode — the cheapest dedup rung
    * above exact.
    */
  val prefixDedup: QueryDef = QueryDef(
    "d_dedup_prefix",
    (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          expr("filter(split(lower(text), ' '), x -> x <> '')").as("tk"))
        .where(expr("size(tk) >= 8"))
        .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
          graft.functions.Native.h60(
            expr("array_join(slice(tk, 1, 32), ' ')")).as("prefix_hash"))
        .groupBy("prefix_hash")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_tokens")).as("min_tokens"),
          max(col("n_tokens")).as("max_tokens"))
        .where(col("n_docs") >= 2)
    },
    Some {
      val h60 = (g: String) => graft.functions.Portable.textSql.h60(g)
      s"""WITH tk AS (SELECT doc_id,
            ${graft.functions.Portable.textSql.tokensLower} AS tk
          FROM documents),
          p AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
              CAST(${h60("array_to_string(tk[1:32], ' ')")} AS BIGINT) AS prefix_hash
            FROM tk WHERE len(tk) >= 8)
          SELECT prefix_hash, CAST(COUNT(*) AS BIGINT) AS n_docs,
            MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
          FROM p GROUP BY 1 HAVING COUNT(*) >= 2"""
    })

  /** SUFFIX-duplicate detection — [[prefixDedup]]'s mirror for the
    * HEAD-truncation class: two copies of one page that lost different
    * amounts of header/navigation share a long SUFFIX but differ at
    * the start, so whole-doc hashes diverge, the prefix rung keys on
    * exactly the part that changed, and the span rung only finds
    * interior chunks. Docs with ≥ 8 tokens key on the hash of their
    * LAST 32 lowercased tokens; groups of ≥ 2 report size and
    * token-length spread. Shared trailing boilerplate (footers,
    * signatures) surfaces here too — max−min ≈ 0 with many docs is
    * the template-footer signature row 49 strips.
    *
    * Scale shape: identical to the prefix rung — one map-side hash +
    * one keyed aggregate, no explode, never pairwise.
    */
  val suffixDedup: QueryDef = QueryDef(
    "d_dedup_suffix",
    (s, dir) => {
      val hashes = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          expr("filter(split(lower(text), ' '), x -> x <> '')").as("tk"))
        .where(expr("size(tk) >= 8"))
        .select(col("doc_id"), col("source"),
          graft.functions.Native.h60(expr(
            "array_join(slice(tk, greatest(1, size(tk) - 31), 32), ' ')"))
            .as("suffix_hash"))
      val dupHashes = hashes.groupBy("suffix_hash")
        .agg(count(lit(1)).as("c")).where(col("c") >= 2)
        .select("suffix_hash")
      val dups = hashes.join(dupHashes, Seq("suffix_hash"), "left_semi")
        .groupBy("source")
        .agg(count(lit(1)).as("d"), countDistinct(col("suffix_hash")).as("g"))
      hashes.groupBy("source").agg(count(lit(1)).as("n_docs_eligible"))
        .join(dups, Seq("source"), "left")
        .select(col("source"), col("n_docs_eligible"),
          coalesce(col("d"), lit(0L)).as("n_suffix_dup_docs"),
          coalesce(col("g"), lit(0L)).as("n_dup_groups"))
    },
    Some {
      val h60 = (g: String) => graft.functions.Portable.textSql.h60(g)
      s"""WITH tk AS (SELECT doc_id, source,
            ${graft.functions.Portable.textSql.tokensLower} AS tk
          FROM documents),
          p AS (SELECT doc_id, source,
              CAST(${h60(
                "array_to_string(tk[CAST(greatest(1, len(tk) - 31) AS BIGINT):], ' ')")}
                AS BIGINT) AS suffix_hash
            FROM tk WHERE len(tk) >= 8),
          dh AS (SELECT suffix_hash FROM p GROUP BY 1 HAVING COUNT(*) >= 2),
          d AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS d,
              CAST(COUNT(DISTINCT suffix_hash) AS BIGINT) AS g
            FROM p WHERE suffix_hash IN (SELECT suffix_hash FROM dh)
            GROUP BY 1),
          b AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_eligible
            FROM p GROUP BY 1)
          SELECT b.source, b.n_docs_eligible,
            COALESCE(d.d, 0) AS n_suffix_dup_docs,
            COALESCE(d.g, 0) AS n_dup_groups
          FROM b LEFT JOIN d ON d.source = b.source"""
    })

  /** b-BIT MinHash accuracy — the storage-compression rung UNDER
    * [[minhashAccuracy]] (Li & König 2010, "b-bit minwise hashing"):
    * keep only the LOWEST BIT of each of the K min-hashes (32× less
    * signature storage at K=32×64-bit) and estimate Jaccard from the
    * bit-agreement rate. For b=1 the collision probability of two
    * INDEPENDENT mins' low bits is ½, so E[agree] = J + (1−J)/2 and
    * the unbiased estimator is Ĵ = 2·rate − 1 (clamped at 0 —
    * agreement below ½ is sampling noise, not negative similarity).
    * Ships, per banded candidate pair, the exact Jaccard, the full
    * K-row estimate, the 1-bit estimate, and both absolute errors —
    * the measured cost of the compression, next to the measured cost
    * of the estimator itself (its parent query), the same
    * decision-artifact convention as the recall ladder.
    *
    * Scale shape: identical to [[minhashAccuracy]] — banded
    * candidates, per-pair K-element zips, never all-pairs.
    */
  val minhashBbit: QueryDef = QueryDef(
    "d_minhash_bbit",
    (s, dir) => {
      val sg = signed(Tables.load(s, dir, "documents"))
      val pairs = minhashCandidates(sg)
      val sa = sg.select(col("doc_id").as("a"), col("shingles").as("sh_a"),
        col("sig").as("sig_a"))
      val sb = sg.select(col("doc_id").as("b"), col("shingles").as("sh_b"),
        col("sig").as("sig_b"))
      val inter = graft.functions.Native.sortedIntersectSize(col("sh_a"), col("sh_b"))
      pairs.join(sa, "a").join(sb, "b")
        .select(col("a"), col("b"), inter.as("inter"),
          (size(col("sh_a")) + size(col("sh_b"))).cast("long").as("zsum"),
          expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> if(x = y, 1L, 0L)), 0L, (acc, v) -> acc + v)")
            .as("matches"),
          expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> if(x % 2 = y % 2, 1L, 0L)), 0L, (acc, v) -> acc + v)")
            .as("matches1"))
        .select(col("a"), col("b"),
          expr("(inter * 1000) div nullif(zsum - inter, 0)").as("exact_x1000"),
          expr(s"(matches * 1000) div $K").as("est_full_x1000"),
          expr(s"greatest((matches1 * 2000) div $K - 1000, 0L)").as("est_bbit_x1000"))
        .select(col("a"), col("b"), col("exact_x1000"),
          col("est_full_x1000"), col("est_bbit_x1000"),
          abs(col("est_full_x1000") - col("exact_x1000")).as("err_full"),
          abs(col("est_bbit_x1000") - col("exact_x1000")).as("err_bbit"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
         sh AS (SELECT doc_id, ${gramsSql(3)} AS shingles FROM tk),
         sg AS (SELECT doc_id, shingles, list_transform(range(0, $K), k ->
             list_min(list_transform(shingles, h ->
               ((2*k+1)*(h % $HashP) + ((k*2654435761) % $HashP)) % $HashP))) AS sig
           FROM sh),
         bx AS (SELECT doc_id, unnest(range(0, $Bands)) AS band, sig FROM sg),
         bb AS (SELECT doc_id, band, ${bandBucketSql("band")} AS bucket FROM bx),
         cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM bb l JOIN bb r
             ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
         pj AS (SELECT c.a, c.b,
               CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS inter,
               CAST(len(sa.shingles) + len(sb.shingles) AS BIGINT) AS zsum,
               CAST(len(list_filter(list_zip(sa.sig, sb.sig), z -> z[1] = z[2])) AS BIGINT)
                 AS matches,
               CAST(len(list_filter(list_zip(sa.sig, sb.sig), z -> z[1] % 2 = z[2] % 2)) AS BIGINT)
                 AS matches1
             FROM cand c JOIN sg sa ON sa.doc_id = c.a JOIN sg sb ON sb.doc_id = c.b),
         m AS (SELECT a, b,
               (inter * 1000) // NULLIF(zsum - inter, 0) AS exact_x1000,
               (matches * 1000) // $K AS est_full_x1000,
               GREATEST((matches1 * 2000) // $K - 1000, 0) AS est_bbit_x1000
             FROM pj)
         SELECT a, b, exact_x1000, est_full_x1000, est_bbit_x1000,
           ABS(est_full_x1000 - exact_x1000) AS err_full,
           ABS(est_bbit_x1000 - exact_x1000) AS err_bbit
         FROM m"""))

  val defs: Seq[QueryDef] =
    Seq(exact, paragraph, substring, minhash, editDistance, simhashDef,
      ngramJaccard, cluster, canonicalByQuality, incremental, dedupReport,
      sourceOverlap, containment, splitLeakage, corpusDiversity,
      minhashAccuracy, lshPlanner, bucketStats, exactIncremental,
      thresholdSweep, cdcChunks, winnow, simhashIncremental, prefixDedup,
      suffixDedup, minhashBbit)
}
