package graft.queries

import graft.functions.{SimilarityFunctions => S, TextFunctions => T}
import graft.operators.{Ann, Dedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data-pipeline query pack: dedup, similarity search, text analysis.
  * Oracle-checked where the computation is SQL-expressible in DuckDB;
  * LSH-bucketed variants (minhash/simhash/hyperplane) are checked rows-only —
  * their exact-verification counterparts ARE oracle-checked.
  */
object TextQueries {

  /** Shared doc_id → URL injection + canonicalization projection for
    * q115 (per-doc rows) and q116 (per-domain stats). */
  /** Shared q215/q216 fixture: stage banner-planted documents as 4
    * single-file group partitions and drain the streaming substring-dedup
    * gate into `db`.{report,windex} — ONE staging block so the two
    * queries' fixtures can never diverge (they share the staged dir). */
  private def substringGateState(s: SparkSession, d: String, db: String,
                                 parity: Int): Unit = {
    import org.apache.spark.sql.functions._
    val banner = "supercalifragilisticexpialidocious corporate-boilerplate appended-automatically"
    val dir = s"/tmp/graft_stream_ssdg/${d.replaceAll("[^a-zA-Z0-9]", "_")}_p$parity"
    if (!new java.io.File(s"$dir/_SUCCESS").exists())
      Tables(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(2)) === parity)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" " + banner)))
            .otherwise(col("text")).as("text"))
        .withColumn("grp", pmod(col("doc_id"), lit(4)).cast("int"))
        .repartition(4, col("grp"))
        .write.mode("overwrite").partitionBy("grp").parquet(dir)
    val staged = s.read.parquet(dir)
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    Seq("report", "windex").foreach(t => s.sql(s"DROP TABLE IF EXISTS $db.$t"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ssdg_ckpt").toString
    graft.streaming.StreamingOps.ingestSubstringDedupGate(
      s.readStream.schema(staged.schema).option("maxFilesPerTrigger", 1)
        .parquet(dir).drop("grp"),
      "text", "doc_id", minLen = 40, keepFirst = true,
      s"$db.report", s"$db.windex", ckpt, availableNow = true)
      .awaitTermination()
    Seq("report", "windex").foreach(t => s.sql(s"REFRESH TABLE $db.$t"))
  }

  /** The gate-maintained window index aggregated to its hot-window state
    * — q215/q216's order-independent output shape. */
  private def windexHotState(s: SparkSession, db: String): DataFrame = {
    import org.apache.spark.sql.functions._
    s.table(s"$db.windex")
      .groupBy(col("w")).agg(sum(col("cnt")).as("cnt"),
        min(struct(col("first_doc").as("d"), col("first_pos").as("p"))).as("f"))
      .filter(col("cnt") >= 2)
      .select(col("w"), col("cnt"),
        col("f.d").as("first_doc"), col("f.p").as("first_pos"))
      .orderBy(col("w"))
  }

  private def urlEnriched(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val site = concat(lit("site"), (id % 7).cast("string"))
    val url = when(id % 4 === 0, concat(lit("https://WWW.Site"),
        (id % 7).cast("string"), lit(".Example.COM/Path/"), id.cast("string"),
        lit("/?utm_source=feed&utm_medium=x&id="), id.cast("string"), lit("#frag")))
      .when(id % 4 === 1, concat(lit("http://"), site, lit(".example.com/a/b")))
      .when(id % 4 === 2, concat(lit("HTTPS://"), site, lit(".EXAMPLE.com/?utm_campaign=z")))
      .otherwise(concat(lit("https://www."), site, lit(".example.com")))
    Tables(s, d, "documents")
      .select(id, T.canonicalizeUrl(url).as("url_canonical"), T.urlDomain(url).as("domain"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup (hash-groupBy) — keep min doc_id per (lang, source) group.
    "q20_dedup_exact" -> ((s, d) => {
      Dedup.exact(Tables(s, d, "documents"), Seq("lang", "source"), "doc_id")
        .orderBy(col("lang"), col("source"))
    }),

    // Fingerprint dedup — normalized-text SHA-256 groups.
    "q21_fingerprint" -> ((s, d) => {
      Dedup.byFingerprint(Tables(s, d, "documents"), "text", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Token counting — whitespace + BPE-ish regex estimate.
    "q22_token_counts" -> ((s, d) => {
      Tables(s, d, "documents")
        .select(col("doc_id"),
          T.tokenCount(col("text")).cast(LongType).as("n_tokens"),
          T.bpeishTokenCount(col("text")).cast(LongType).as("n_bpeish"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring — length/alpha/word-length/stopword heuristics.
    "q23_quality" -> ((s, d) => {
      Tables(s, d, "documents")
        .select(col("doc_id"), T.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Language-ID — stopword-count argmax heuristic.
    "q24_langid" -> ((s, d) => {
      Tables(s, d, "documents")
        .select(col("doc_id"), T.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // n-gram (unigram) Jaccard near-dup within (lang, source) blocks — EXACT
    // result via the prefix-filtering similarity join (100% recall, no
    // all-pairs-per-block quadratics), fully oracle-checked.
    "q25_jaccard_block" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), S.tokens(col("text")).as("toks"))
      Dedup.jaccardSelfJoin(docs, "toks", "doc_id", Seq("lang", "source"), 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Decontamination: training docs that near-duplicate "benchmark" docs
    // (the held-out tenth of the corpus), via the EXACT cross-corpus
    // prefix-filter join — benchmark-leakage detection, fully oracle-checked.
    // Leaks are PLANTED (every 5th bench doc re-id'd into the train side with
    // a +1000000 offset) so the oracle verifies a guaranteed-non-empty result
    // — the natural sf0.01 split has zero cross-corpus near-dups, and a 0==0
    // match proves nothing about the join.
    "q65_decontamination" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), S.tokens(col("text")).as("toks"))
      val bench = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val leaked = bench.filter(pmod(col("doc_id"), lit(50)) === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000))
      val train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0).unionByName(leaked)
      // union order, deliberately (measured): a bench-side order drops the
      // train side's PRIVATE rare tokens from its prefixes — on these
      // same-distribution corpora those are the discriminating keys, so
      // candidates inflate (q65 1.75 → 2.28 s at t=0.5, matched A/B).
      // freqFrom="left" stays the per-batch incremental-dedup win, where
      // the threshold is high and the stored side is the term to cut.
      Dedup.jaccardCrossJoin(train, bench, "toks", "doc_id", Seq("lang", "source"), 0.5)
        .orderBy(col("id_l"), col("id_r"))
    }),

    // MinHash+LSH pairs w/ exact-Jaccard verification, PRECISION-ORACLE
    // regime: at threshold 0.9 with 32 bands x 3 rows the banding miss
    // probability for a qualifying pair is (1-0.9^3)^32 ~ 8e-19, so the
    // reported set provably equals the exact jaccard>=0.9 pair set the
    // DuckDB oracle computes (verified: 105 pairs, 0 missed, 0 extra at
    // sf0.01). Near-dups are PLANTED (every 7th doc re-id'd +2000000 with a
    // one-token tail, jaccard s/(s+1)) so the result is guaranteed non-empty;
    // the lossy low-threshold regime is spec-asserted for recall instead
    // (ApproxRecallSpec).
    "q26_minhash_pairs" -> ((s, d) => {
      val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" graftdup")).as("text"))
      Dedup.minhashPairs(docs.unionByName(planted), "text", "doc_id",
          shingleN = 2, bands = 32, rowsPerBand = 3, threshold = 0.9)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash-keyed exact order-insensitive duplicate pairs
    // (Dedup.simhashDupes): keep-first (group-min, member) rows from one
    // exact-key aggregation — recall 1 and linear output at ANY scale, no
    // skew guard involved, fully oracle-checked. Identical-text copies are
    // planted (every 7th doc re-id'd +2000000) for a guaranteed-non-empty
    // result; the hamming-tolerant near-dup regime is spec-asserted for
    // recall.
    "q27_simhash_pairs" -> ((s, d) => {
      val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
      Dedup.simhashDupes(docs.unionByName(planted), "text", "doc_id")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Brute-force cosine top-k ANN (exact; oracle-checked with rounded sims).
    "q28_ann_topk" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Ann.bruteForceTopK(emb, queries, "embedding", "vec_id", "query_id", k = 10)
        .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine_r"),
          col("rank").cast(LongType).as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // LSH-bucketed ANN, FULLY oracle-checked: the hyperplane components come
    // from a deterministic LCG (Ann.planeComponent), which the DuckDB oracle
    // replays in HUGEINT modular arithmetic — bucketing, 1-bit multi-probe,
    // exact-cosine ranking and tie-break are all replicated bit-for-bit
    // (verified equal at sf0.01).
    "q29_ann_lsh" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Ann.lshTopK(emb, queries, "embedding", "vec_id", "query_id",
          dim = 64, k = 10, planes = 8)
        .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine_r"),
          col("rank").cast(LongType).as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF ANN with FIXED pseudo-random centroids (planeComponent rows
    // 100..115): max-dot assignment, nprobe probing and exact-cosine ranking
    // are replayed exactly by the DuckDB oracle (same LCG CTE as q29's) —
    // the inverted-list MECHANISM is hash-green here, while sample-trained
    // centroid quality (trainIvfCentroids) is spec-asserted for recall vs
    // brute force (OperatorsSpec).
    "q41_ann_ivf" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val centroids =
        graft.functions.expressions.HashExpressions.fixedCentroids(100, 16, 64)
      Ann.ivfTopK(emb, queries, "embedding", "vec_id", "query_id",
          centroids, k = 10, nprobe = 4)
        .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine_r"),
          col("rank").cast(LongType).as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Product-quantization ANN with FIXED LCG codebooks (planeComponent rows
    // 200..327 sliced into 8 subspace codebooks of 16): encode (per-subspace
    // argmin-L2, lowest index on ties) and ADC search (per-query distance
    // table + m lookups summed left-to-right) are replayed exactly by the
    // DuckDB oracle — subspace distances go through the same sequential
    // dot_product both engines compute bit-identically (q41 precedent).
    // Sample-trained codebook QUALITY (pqTrain) is spec-asserted for recall
    // vs brute force separately (ApproxRecallSpec).
    "q101_ann_pq" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val fc = graft.functions.expressions.HashExpressions.fixedCentroids(200, 128, 8)
      val codebooks = Array.tabulate(8)(j => fc.slice(j * 16, j * 16 + 16))
      val codes = Ann.pqEncode(emb, "embedding", codebooks)
      Ann.pqTopK(codes, queries, "embedding", "vec_id", "query_id",
          codebooks, k = 10)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc_r"),
          col("rank").cast(LongType).as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // PQ with exact rerank — the production IVF-PQ read path: ADC shortlist
    // (50 per query, from the compressed codes) joins back to raw vectors
    // for an exact-cosine top-10. Same fixed codebooks as q101; the oracle
    // replays shortlist AND rerank exactly.
    "q102_ann_pq_rerank" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val fc = graft.functions.expressions.HashExpressions.fixedCentroids(200, 128, 8)
      val codebooks = Array.tabulate(8)(j => fc.slice(j * 16, j * 16 + 16))
      val codes = Ann.pqEncode(emb, "embedding", codebooks)
      Ann.pqTopKRerank(emb, codes, queries, "embedding", "vec_id", "query_id",
          codebooks, k = 10, shortlist = 50)
        .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine_r"),
          col("rank").cast(LongType).as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Mojibake repair, oracle-inverted: real cp1252 mojibake ("Ã©", "â€™" —
    // generated by the genuine bytes-level mis-decode, not hand-typed
    // lookalikes) is appended to ASCII-stripped document text; fixMojibake
    // must invert the corruption EXACTLY, so the oracle simply emits the
    // clean suffixes. Docs with no injection (id%4=3) prove clean text
    // passes through untouched.
    "q104_fix_mojibake" -> ((s, d) => {
      val truths = Seq(" café résumé", " naïve Ünterläge",
        " ‘quoted’ – dash…", "")
      val garbled = truths.map(t => new String(
        t.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.Charset.forName("windows-1252")))
      // ASCII-stripped base: a (hypothetical) non-ASCII char in the raw
      // text would abort the whole-string repair and fail the row honestly
      val base = regexp_replace(col("text"), "[^\\x20-\\x7E]", "")
      val corrupted = concat(base,
        element_at(array(garbled.map(lit): _*), (col("doc_id") % 4 + 1).cast("int")))
      Tables(s, d, "documents")
        .select(col("doc_id"), T.fixMojibake(corrupted).as("fixed"))
        .orderBy(col("doc_id"))
    }),

    // Unicode NFC normalization, oracle-inverted like q104: decomposed
    // combining sequences (e+U+0301, A+U+030A, …) are appended to
    // ASCII-stripped text; unicodeNormalize must compose them EXACTLY, so
    // the oracle emits the composed forms. Docs with id%4=2 get
    // already-composed text (the fast-path pass-through), id%4=3 none.
    "q111_nfc_normalize" -> ((s, d) => {
      val decomposed = Seq(
        " café résumé",
        " über Ångström",
        " pre-composed é stays",
        "")
      val base = regexp_replace(col("text"), "[^\\x20-\\x7E]", "")
      val mixed = concat(base,
        element_at(array(decomposed.map(lit): _*), (col("doc_id") % 4 + 1).cast("int")))
      Tables(s, d, "documents")
        .select(col("doc_id"), T.unicodeNormalize(mixed).as("normalized"))
        .orderBy(col("doc_id"))
    }),

    // IPv4-extended PII scrub (q39's canonical piiScrub chain, exercising the
    // 'ip' category and the email-before-ip ordering contract): deterministic
    // emails / NANP phones / IPv4 addresses (arithmetic functions of doc_id)
    // are appended per id%4 variant; the oracle rebuilds the injection and
    // replays the email→ssn→phone→ip chain stage-for-stage. id%4=3 rows
    // prove clean pass-through.
    "q112_pii_ipv4" -> ((s, d) => {
      val id = col("doc_id")
      val email = concat(lit(" mail bob"), id.cast("string"),
        lit("@mail"), (id % 5).cast("string"), lit(".example.com"))
      val phone = concat(lit(" call 555-"),
        lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((id % 10000).cast("string"), 4, "0"))
      val ip = concat(lit(" host 10."), (id % 256).cast("string"), lit("."),
        ((id * 7) % 256).cast("string"), lit("."), (id % 100).cast("string"))
      val doc = concat(col("text"),
        when(id % 4 === 0, concat(email, phone, ip))
          .when(id % 4 === 1, email)
          .when(id % 4 === 2, concat(phone, lit(" and"), ip))
          .otherwise(lit("")))
      Tables(s, d, "documents")
        .select(id, T.piiScrub(doc).as("scrubbed"),
          T.piiCount(doc, "email").cast(LongType).as("n_email"),
          T.piiCount(doc, "phone").cast(LongType).as("n_phone"),
          T.piiCount(doc, "ip").cast(LongType).as("n_ip"))
        .orderBy(col("doc_id"))
    }),

    // HTML text extraction, replay-checked: markup + entity variants wrap the
    // text per id%4 (nested tags, an entity cluster incl. the one-level
    // "&amp;lt;" case, an escaped-tag-stays-text case, and untouched).
    // stripHtml's strip→unescape→collapse order is part of the contract the
    // oracle replays stage by stage.
    "q113_html_extract" -> ((s, d) => {
      val id = col("doc_id")
      val doc = when(id % 4 === 0, concat(lit("<html><p id=\"p"), id.cast("string"),
          lit("\">"), col("text"), lit("</p>  <b>bold</b></html>")))
        .when(id % 4 === 1, concat(lit("<div>"), col("text"),
          lit("</div> &amp;lt; &quot;q&quot; &#39;a&#39; &nbsp;x")))
        .when(id % 4 === 2, concat(col("text"), lit(" &lt;script&gt; not a tag &amp; done")))
        .otherwise(col("text"))
      Tables(s, d, "documents")
        .select(id, T.stripHtml(doc).as("extracted"), T.htmlTagCount(doc).as("n_tags"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style quality rules (integer-exact formulation): id%4 variants
    // exercise each rule — bullet/ellipsis lines appended, a 17-char
    // truncation that fails the word-count floor, '#' spam that fails the
    // symbol-ratio cap, and untouched text that passes everything.
    "q114_gopher_rules" -> ((s, d) => {
      val id = col("doc_id")
      val doc = when(id % 4 === 0, concat(col("text"),
          lit("\n- bullet one\n- bullet two\nplain line\nwrapping up...")))
        .when(id % 4 === 1, substring(col("text"), 1, 17))
        .when(id % 4 === 2, concat(col("text"), lit(" ##### ##### #####")))
        .otherwise(col("text"))
      Tables(s, d, "documents")
        .select((id +: T.gopherFlags(doc)): _*)
        .orderBy(col("doc_id"))
    }),

    // URL canonicalization, replay-checked: per-id%4 URL variants (tracking
    // params + fragment + mixed-case www host + trailing slash; plain path;
    // utm-only query; bare host) must collapse to the canonical form the
    // oracle rebuilds with the same split-normalize-reassemble chain.
    "q115_url_canonical" -> ((s, d) =>
      urlEnriched(s, d).orderBy(col("doc_id"))),

    // Per-domain corpus stats over q115's canonicalization: document count
    // and distinct canonical URLs per registrable domain — the crawl-audit
    // aggregation (hash-partitioned groupBy, two exact aggregates).
    "q116_domain_stats" -> ((s, d) =>
      urlEnriched(s, d).groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url_canonical")).as("n_unique"))
        .orderBy(col("domain"))),

    // KMV distinct-count sketch (custom mergeable TypedImperativeAggregate,
    // SketchAggregates.KmvSketchAgg): per-lang distinct-token estimates from
    // the k smallest md5-derived hashes. k=16 exercises the estimator path
    // (vocab > k), k=64 the exact small-set path. The bottom-k set is
    // insertion-order-independent, so the parallel sketch replays exactly in
    // DuckDB (row_number over the distinct hashes).
    "q117_kmv_distinct" -> ((s, d) => {
      import graft.functions.expressions.{SketchAggregates => SK}
      val toks = Tables(s, d, "documents")
        .select(col("lang"), explode(S.tokens(col("text"))).as("tok"))
      val hashed = toks.select(col("lang"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      hashed.groupBy(col("lang"))
        .agg(SK.kmv_sketch(col("h"), 16).as("sk16"),
          SK.kmv_sketch(col("h"), 64).as("sk64"))
        .select(col("lang"),
          size(col("sk16")).cast(LongType).as("n16"),
          element_at(col("sk16"), 16).as("kth16"),
          when(size(col("sk16")) < 16, size(col("sk16")).cast("double"))
            .otherwise(round(lit(15.0 * math.pow(2, 60)) /
              element_at(col("sk16"), 16).cast("double"), 6)).as("est16_r"),
          size(col("sk64")).cast(LongType).as("n64"),
          when(size(col("sk64")) < 64, size(col("sk64")).cast("double"))
            .otherwise(round(lit(63.0 * math.pow(2, 60)) /
              element_at(col("sk64"), 64).cast("double"), 6)).as("est64_r"))
        .orderBy(col("lang"))
    }),

    // Count-min frequency sketch (SketchAggregates.CmsSketchAgg): per-lang
    // 4×64 counter matrix built in one bounded-memory aggregation (partials
    // merge map-side; bytes-per-partition shuffle, not rows-per-token), then
    // point estimates for a fixed probe set via min-over-rows bucket lookups
    // — joined to exact counts to surface the overestimate-only property.
    // Counter sums replay exactly in SQL as (row, bucket) GROUP BY counts.
    "q118_cms_freq" -> ((s, d) => {
      import graft.functions.expressions.{SketchAggregates => SK}
      val toks = Tables(s, d, "documents")
        .select(col("lang"), explode(S.tokens(col("text"))).as("tok"))
      val sk = toks.groupBy(col("lang")).agg(SK.cms_sketch(col("tok"), 4, 64).as("sk"))
      val probes = Seq("the", "table", "value", "spark", "zebra")
      val probed = sk.select(col("lang"), col("sk"),
        explode(array(probes.map(lit): _*)).as("ptok"))
      val est = (0 until 4).map { i =>
        element_at(col("sk"),
          (conv(substring(md5(concat(lit(s"$i|"), col("ptok"))), 1, 15), 16, 10)
            .cast("long") % 64).cast("int") + lit(i * 64 + 1))
      }.reduce(least(_, _))
      val truth = toks.groupBy(col("lang"), col("tok")).count()
        .withColumnRenamed("tok", "ptok").withColumnRenamed("count", "n_true")
      probed.select(col("lang"), col("ptok"), est.as("est"))
        .join(truth, Seq("lang", "ptok"), "left")
        .select(col("lang"), col("ptok"), col("est"),
          coalesce(col("n_true"), lit(0L)).as("n_true"))
        .orderBy(col("lang"), col("ptok"))
    }),

    // Fixed-point PageRank (PageRank.fixedPoint), 3 iterations over a
    // deterministic synthetic link graph (each doc links to (2·id+1)%N and
    // (5·id+3)%N — multipliers share factors with N, so in-degrees vary
    // 0..several and ranks genuinely move) — the source-authority signal
    // for crawl-quality
    // weighting. Integer arithmetic end to end, so the distributed
    // iteration replays bit-for-bit in the oracle's unrolled CTE chain.
    "q119_pagerank" -> ((s, d) => {
      import graft.operators.PageRank
      val docs = Tables(s, d, "documents").select(col("doc_id"))
      val nn = docs.agg((max(col("doc_id")) + 1).as("__n"))
      val edges = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"), col("__n"),
          explode(array((col("doc_id") * 2 + 1) % col("__n"),
            (col("doc_id") * 5 + 3) % col("__n"))).as("dst"))
        .select(col("src"), col("dst"))
      PageRank.fixedPoint(edges, "src", "dst", docs, "doc_id", iterations = 3)
        .orderBy(col("doc_id"))
    }),

    // Dictionary blocklist masking (Aho-Corasick MaskTermsExpr): known
    // sensitive phrases injected per id%4 variant are masked
    // leftmost-longest; the dict terms share no substrings or overlaps, so
    // the oracle's chained replace() is provably the same selection. id%4=3
    // rows prove clean pass-through.
    "q120_term_mask" -> ((s, d) => {
      val dict = Seq("confidential", "internal use only", "do not distribute")
      val id = col("doc_id")
      val doc = when(id % 4 === 0, concat(col("text"), lit(" confidential")))
        .when(id % 4 === 1,
          concat(col("text"), lit(" internal use only stays internal use only")))
        .when(id % 4 === 2,
          concat(col("text"), lit(" do not distribute confidential")))
        .otherwise(col("text"))
      Tables(s, d, "documents")
        .select(id, T.maskTerms(doc, dict).as("masked"),
          T.maskTermCount(doc, dict).cast(LongType).as("n_masked"))
        .orderBy(col("doc_id"))
    }),

    // Temperature-scaled mixture (Sampling.temperatureMixtureSample, τ=0.5):
    // per-lang keep rates flatten the char-weighted domain distribution
    // toward uniform — expected kept mass ∝ tokens^0.5. The τ=0.5 closed
    // form (rate = sqrt(min_tg/tg)) uses only correctly-rounded IEEE ops,
    // so selection and rate replay bit-exactly.
    "q123_temperature_mixture" -> ((s, d) => {
      import graft.operators.Sampling
      Sampling.temperatureMixtureSample(Tables(s, d, "documents"),
          "doc_id", "lang", "n_chars", tau = 0.5)
        .select(col("doc_id"), col("lang"), round(col("rate"), 6).as("rate_r"))
        .orderBy(col("doc_id"))
    }),

    // Bloom-filter 13-gram decontamination (Dedup.bloomDecontaminate): the
    // zero-join scale path — q80's bench set builds a 2^20-bit filter via
    // the mergeable bloom_sketch aggregate, and the corpus is probed in one
    // codegen'd scan. The oracle replays the EXACT distinct-gram overlap:
    // equality vs the Bloom path holds because the md5 double-hashed FPR at
    // this gram count (~360 inserted) is ~1e-12 per probe — no false
    // negatives by construction, and no false positive fires at any test SF
    // (deterministic hashing; verified, not hoped).
    "q124_bloom_decontamination" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(25)) === 0)
        .select(col("doc_id"),
          array_join(slice(S.tokens(col("text")), 3, 30), " ").as("text"))
      graft.operators.Dedup.bloomDecontaminate(docs, bench, "text", "doc_id", n = 13)
        .orderBy(col("doc_id"))
    }),

    // Hybrid retrieval via Reciprocal-Rank Fusion (Retrieval.rrfFuse): the
    // sparse leg is q105's BM25 at k=20, the dense leg is brute-force cosine
    // top-20 with each keyword query anchored to a fixed embedding row
    // (vec_id ≡ doc_id in the testdata). rrf = Σ 1/(60+rank), rounded to
    // 9 dp before the fused re-rank; the oracle replays both legs and the
    // fusion arithmetic end-to-end.
    "q125_rrf_fusion" -> ((s, d) => {
      import s.implicits._
      val docs = Tables(s, d, "documents")
      val emb = Tables(s, d, "embeddings")
      val sparse = graft.operators.Retrieval
        .bm25TopK(docs, "text", "doc_id", Bm25Queries, k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val qvecs = RrfAnchors.toSeq.toDF("query_id", "vec_id")
        .join(emb, Seq("vec_id"))
        .select(col("query_id"), col("embedding"))
      val dense = Ann
        .bruteForceTopK(emb, qvecs, "embedding", "vec_id", "query_id", k = 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      graft.operators.Retrieval
        .rrfFuse(Seq(sparse, dense), "query_id", "doc_id", "rank", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Hybrid retrieval over the REAL ANN stack (round-9): q125's fusion with
    // the dense leg swapped from brute-force cosine to the bucketed IVF-PQ
    // path (q103's fixed centroids + codebooks, nprobe=4) — the composition
    // a 100 TB corpus actually runs, where the dense leg ADC-scans codes in
    // probed lists and never touches raw vectors. Deterministic end-to-end
    // (LCG codebooks, argmin/argmax tie rules), so the oracle replays the
    // sparse chain, the quantized dense chain, and the fusion arithmetic.
    "q161_hybrid_ivfpq" -> ((s, d) => {
      import s.implicits._
      val docs = Tables(s, d, "documents")
      val emb = Tables(s, d, "embeddings")
      val sparse = graft.operators.Retrieval
        .bm25TopK(docs, "text", "doc_id", Bm25Queries, k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val centroids =
        graft.functions.expressions.HashExpressions.fixedCentroids(100, 16, 64)
      val fc = graft.functions.expressions.HashExpressions.fixedCentroids(200, 128, 8)
      val codebooks = Array.tabulate(8)(j => fc.slice(j * 16, j * 16 + 16))
      val qvecs = RrfAnchors.toSeq.toDF("query_id", "vec_id")
        .join(emb, Seq("vec_id"))
        .select(col("query_id"), col("embedding"))
      val dense = Ann.ivfPqTopK(emb, qvecs, "embedding", "vec_id", "query_id",
          centroids, codebooks, k = 20, nprobe = 4)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      graft.operators.Retrieval
        .rrfFuse(Seq(sparse, dense), "query_id", "doc_id", "rank", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Directed containment join (Dedup.containmentJoin): snippet/superset
    // near-dup detection the Jaccard joins can't see — |A∩B|/|A| ≥ 0.75
    // over distinct 2-gram shingle sets (unigram sets are degenerate on the
    // shared-vocabulary synthetic corpus: nearly every pair qualifies).
    // Containments are PLANTED (every 9th doc's first 60% of tokens
    // re-id'd +3000000: contained in its source with C = 1.0 by
    // construction) so the result is guaranteed non-empty; the oracle
    // verifies the full directed pair set exactly.
    "q126_containment" -> ((s, d) => {
      val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
      val snippets = docs.filter(pmod(col("doc_id"), lit(9)) === 0)
        .select((col("doc_id") + 3000000).as("doc_id"),
          array_join(slice(S.tokens(col("text")), lit(1),
            ceil(size(S.tokens(col("text"))) * lit(0.6)).cast("int")), " ").as("text"))
      // the fused hashed_shingles kernel replaces the interpreted wordShingles
      // HOF (measured ~10 s of the query's wall at sf0.1); containment over
      // 64-bit shingle hashes is exact modulo the pipeline-wide ~2^-64
      // collision contract, and the verify kernel consumes the hashes as-is
      val corpus = docs.unionByName(snippets)
        .select(col("doc_id"),
          graft.functions.expressions.HashExpressions
            .hashed_shingles(col("text"), 2).as("toks"))
      graft.operators.Dedup
        .containmentJoin(corpus, "toks", "doc_id", Nil, 0.75)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 6).as("containment_r"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Stratified curriculum interleave (Sampling.stratifiedInterleave):
    // seeded per-source shuffle + arithmetic round-robin global order, no
    // global sort. The oracle replays the md5 order and checks the closed
    // form against a literal row_number() OVER (ORDER BY pos, domain).
    "q127_interleave" -> ((s, d) => {
      graft.operators.Sampling.stratifiedInterleave(
          Tables(s, d, "documents").select(col("doc_id"), col("source")),
          "doc_id", "source", "cur1")
        .orderBy(col("global_pos"))
    }),

    // HyperLogLog distinct tokens per lang (SketchAggregates.HllSketchAgg,
    // p=8 → 256 byte registers): the fixed-size complement of q117's KMV.
    // Registers are merge-order-independent maxima, the harmonic sum is the
    // EXACT integer Σ 2^(53−rho), and the estimate is one double division —
    // all replayed symbol-for-symbol by the oracle (bin() bit-lengths, no
    // floating log2).
    // Two cardinality regimes: unigram tokens (~33/lang → the linear-
    // counting correction branch) and 2-gram shingles (~900/lang → the raw
    // harmonic-mean branch), so BOTH estimator paths are oracle-pinned.
    // Misra-Gries heavy hitters per lang (SketchAggregates.MgSketchAgg,
    // k=1024): WHICH grams are hot, with ≤ k counters per group whatever
    // the corpus — the frequency complement of CMS (point counts) and
    // bottom_k_struct (requires a pre-aggregated count table; MG needs NO
    // count table at all). The per-lang 2-gram vocabulary (~900) sits under
    // k, so the sketch operates in its EXACT regime — no decrement ever
    // fires and the oracle replays it as a plain GROUP BY count. Above k
    // the n/(k+1) undercount bound is pinned in MgSketchSpec.
    "q163_heavy_hitters" -> ((s, d) => {
      import graft.functions.expressions.{SketchAggregates => SK}
      val grams = Tables(s, d, "documents")
        .select(col("lang"), explode(S.wordShingles(col("text"), 2)).as("g"))
      grams.groupBy(col("lang"))
        .agg(SK.mg_sketch(col("g"), 1024).as("sk"))
        .select(col("lang"), posexplode(slice(col("sk"), 1, 20)))
        .select(col("lang"), (col("pos") + 1).cast(LongType).as("rank"),
          col("col.t").as("gram"), col("col.c").as("cnt"))
        .orderBy(col("lang"), col("rank"))
    }),

    // KLL quantile sketch in its EXACT REGIME (SketchAggregates.KllSketchAgg,
    // k=4096 > any lang group): no compaction fires, the sketch is the
    // sorted value list with unit weights, so the weighted-quantile fold is
    // the exact order statistic target = min(⌊q·n⌋+1, n) — replayed by the
    // oracle as a row_number pick. Above this regime the sketch degrades
    // gracefully to the ε·n rank-error contract pinned in KllSketchSpec.
    "q160_kll_quantiles" -> ((s, d) => {
      import graft.functions.expressions.{SketchAggregates => SK}
      val sk = Tables(s, d, "documents")
        .select(col("lang"), length(col("text")).cast(DoubleType).as("v"))
        .groupBy(col("lang")).agg(SK.kll_sketch(col("v"), 4096).as("sk"))
      sk.select(col("lang"),
          size(col("sk")).cast(LongType).as("n"),
          SK.kll_quantile(col("sk"), 0.1).as("p10"),
          SK.kll_quantile(col("sk"), 0.5).as("p50"),
          SK.kll_quantile(col("sk"), 0.9).as("p90"),
          SK.kll_quantile(col("sk"), 0.99).as("p99"))
        .orderBy(col("lang"))
    }),

    "q128_hll_distinct" -> ((s, d) => {
      import graft.functions.expressions.{SketchAggregates => SK}
      def sketchCols(regs: org.apache.spark.sql.Column, tag: String) = Seq(
        size(filter(regs, r => r =!= 0)).cast(LongType).as(s"nonzero_$tag"),
        aggregate(regs, lit(0L),
          (acc, r) => acc + pow(lit(2.0), lit(53) - r).cast("long")).as(s"s_$tag"),
        round(SK.hll_estimate(regs, 8), 4).as(s"est_${tag}_r"))
      val docs = Tables(s, d, "documents")
      val tokSk = docs.select(col("lang"), explode(S.tokens(col("text"))).as("tok"))
        .groupBy(col("lang")).agg(SK.hll_sketch(col("tok"), 8).as("tregs"))
      val gramSk = docs
        .select(col("lang"), explode(S.wordShingles(col("text"), 2)).as("g"))
        .groupBy(col("lang")).agg(SK.hll_sketch(col("g"), 8).as("gregs"))
      tokSk.join(gramSk, Seq("lang"))
        .select(col("lang") +: (sketchCols(col("tregs"), "tok") ++
          sketchCols(col("gregs"), "gram")): _*)
        .orderBy(col("lang"))
    }),

    // Top-k tokens per lang via the bounded-heap aggregate
    // (SketchAggregates.BottomKStructAgg): after the count aggregation, the
    // per-group top-5 costs ONE more aggregation with O(k) partials — no
    // window sort of every (lang, token) row. struct(-cnt, tok) gives
    // count-desc, token-asc ties; merge-order independent, exact replay.
    "q122_topk_tokens" -> ((s, d) => {
      import graft.functions.expressions.{SketchAggregates => SK}
      val toks = Tables(s, d, "documents")
        .select(col("lang"), explode(S.tokens(col("text"))).as("tok"))
      val counts = toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cnt"))
      counts.groupBy(col("lang"))
        .agg(SK.bottom_k_struct(struct((-col("cnt")).as("negc"), col("tok")), 5).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast(LongType).as("rank"),
          col("col.tok").as("tok"), (-col("col.negc")).as("cnt"))
        .orderBy(col("lang"), col("rank"))
    }),

    // Histogram-bucket quantiles (CorpusStats.histogramQuantiles): p50/p90/
    // p99 of document length per lang WITHOUT a global sort — fixed-width
    // bucket counts (map-side combine) + integer cross-multiplied
    // thresholds. Bucket-resolution quantiles, exact under the oracle.
    "q121_histogram_quantiles" -> ((s, d) => {
      import graft.operators.CorpusStats
      CorpusStats.histogramQuantiles(Tables(s, d, "documents"), "n_chars",
          Seq("lang"), bucketWidth = 16L, nBuckets = 64,
          qs = Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L)))
        .orderBy(col("lang"))
    }),

    // Full IVF-PQ composition (q41's inverted file × q101's codes): corpus
    // assigned once + encoded once, queries ADC-score only their nprobe
    // probed lists. Both the routing and the quantized scoring replay
    // exactly in DuckDB.
    "q103_ann_ivfpq" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val centroids =
        graft.functions.expressions.HashExpressions.fixedCentroids(100, 16, 64)
      val fc = graft.functions.expressions.HashExpressions.fixedCentroids(200, 128, 8)
      val codebooks = Array.tabulate(8)(j => fc.slice(j * 16, j * 16 + 16))
      Ann.ivfPqTopK(emb, queries, "embedding", "vec_id", "query_id",
          centroids, codebooks, k = 10, nprobe = 4)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc_r"),
          col("rank").cast(LongType).as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Persisted IVF-PQ index as a fixpoint operator (Ann.ivfPqIndex /
    // ivfPqAppend / ivfPqSearch): the index is built in one call over HALF
    // the corpus, APPENDED with the other half (encode-only — no retrain,
    // stored index rows untouched), the model round-trips through its
    // persistable frame, and the search runs over the appended index. The
    // result must equal the from-scratch IVF-PQ composition (the q103
    // oracle) bit-for-bit: encode is row-wise, so build(A)∪append(B) is
    // exactly encode(A∪B) under the same model.
    "q169_ivfpq_index" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val centroids =
        graft.functions.expressions.HashExpressions.fixedCentroids(100, 16, 64)
      val fc = graft.functions.expressions.HashExpressions.fixedCentroids(200, 128, 8)
      val codebooks = Array.tabulate(8)(j => fc.slice(j * 16, j * 16 + 16))
      val (cs2, cb2) = Ann.ivfPqModelFromDf(
        Ann.ivfPqModelToDf(s, centroids, codebooks))
      val idx0 = Ann.ivfPqIndex(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        "embedding", "vec_id", cs2, cb2)
      val idx1 = Ann.ivfPqAppend(idx0,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1), "embedding", "vec_id",
        cs2, cb2)
      Ann.ivfPqSearch(idx1, queries, "embedding", "vec_id", "query_id",
          cs2, cb2, k = 10, nprobe = 4)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc_r"),
          col("rank").cast(LongType).as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // SemDeDup over the persisted IVF-PQ index (Dedup.
    // semanticDedupPairsIndexed): candidates from the index's inverted
    // lists, SDC code-distance prefilter (m lookups into the subspace
    // centroid-distance table — never a raw vector), exact-cosine verify on
    // survivors only. Oracle replays list assignment, codes, the SDC table
    // and the unrolled left-assoc SDC sum, then the cosine filter.
    "q172_semdedup_index" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val centroids =
        graft.functions.expressions.HashExpressions.fixedCentroids(100, 16, 64)
      val fc = graft.functions.expressions.HashExpressions.fixedCentroids(200, 128, 8)
      val codebooks = Array.tabulate(8)(j => fc.slice(j * 16, j * 16 + 16))
      val idx = Ann.ivfPqIndex(emb, "embedding", "vec_id", centroids, codebooks)
      Dedup.semanticDedupPairsIndexed(idx, emb, "embedding", "vec_id",
          codebooks, sdcMax = 80.0, threshold = 0.2, maxBucketSize = 1 << 20)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine_r"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Interpolated Kneser-Ney bigram perplexity (Tfidf.knBigramPpl): LM
    // trained on the 90% slice (doc_id % 10 <> 0), ALL docs scored — unseen
    // bigrams, unseen contexts and unseen continuations all exercised. The
    // oracle rebuilds the four count tables over gram STRINGS and replays
    // the discounted-interpolation formula exactly.
    "q173_kn_ppl" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      graft.operators.Tfidf.knBigramPpl(
          docs.filter(col("doc_id") % 10 =!= 0), docs, "text", "doc_id")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("nll"), 6).as("nll_r"), round(col("ppl"), 3).as("ppl_r"))
        .orderBy(col("doc_id"))
    }),

    // Incremental winnowing (Dedup.incrementalWinnow): daily batch vs the
    // persisted (id, fp) index — stored text never re-read, candidate work
    // batch-scoped by construction (stored rows semi-joined to
    // batch-touched fingerprints). Winnowing is exact, so the oracle
    // replays the whole thing: fingerprints for both sides, the touched
    // restriction, the hot-fp guard, and the shared counts.
    "q180_incremental_winnow" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val stored = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .select(col("doc_id"), col("text"))
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 1)
        .select((col("doc_id") + 40000).as("doc_id"), col("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      val idx = Dedup.winnowIndex(stored, "text", "doc_id")
      Dedup.incrementalWinnow(idx, batch, "text", "doc_id")._1
        .orderBy(col("batch_id"), col("stored_id"))
    }),

    // Moore-Lewis cross-entropy difference selection (Tfidf.mooreLewisScore):
    // KN bigram LMs on the English 90% slice (in-domain) and the whole 90%
    // slice (general), every doc scored under both in ONE plan via the
    // per-group-LM machinery; ce_diff = nll_in − nll_gen. The oracle
    // rebuilds both LMs' count tables over gram STRINGS keyed by lm and
    // replays the interpolation and the difference exactly.
    "q181_moore_lewis" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      graft.operators.Tfidf.mooreLewisScore(
          train.filter(col("lang") === "en"), train, docs, "text", "doc_id")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("nll_in"), 6).as("nll_in_r"),
          round(col("nll_gen"), 6).as("nll_gen_r"),
          round(col("ce_diff"), 6).as("ce_diff_r"))
        .orderBy(col("doc_id"))
    }),

    // Winnowing fingerprints (Dedup.winnowFingerprints): MOSS local
    // fingerprint selection — each 8-hash window keeps its rightmost
    // minimum, consecutive selections dedup. The oracle recomputes the
    // rolling hashes (q31 formula), replays window-min + rightmost-tie +
    // dedup via DISTINCT, value-exact.
    "q179_winnow" -> ((s, d) => {
      graft.operators.Dedup.winnowFingerprints(
          Tables(s, d, "documents"), "text", "doc_id", k = 8, w = 8)
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"), col("fp"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // T5-style span corruption (Augment.spanCorrupt): deterministic noise
    // spans (md5 anchor + length coins) replaced by numbered sentinels;
    // strictly-overlapping spans merge. The oracle replays both coins, the
    // island merge, and rebuilds inputs/targets strings exactly.
    "q178_span_corrupt" -> ((s, d) => {
      graft.operators.Augment.spanCorrupt(Tables(s, d, "documents"),
          "doc_id", "text", seed = "sc1", anchorPerMille = 60, meanSpan = 3)
        .orderBy(col("doc_id"))
    }),

    // Trigram Kneser-Ney with RECURSIVE backoff (Tfidf.knTrigramPpl): the
    // order-3 model interpolates with a continuation-count order-2 model
    // which interpolates with the smoothed unigram floor. Same 90/100
    // train/score split as q173; the oracle rebuilds all six count tables
    // over gram strings and replays both interpolation levels exactly.
    "q177_kn_trigram" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      graft.operators.Tfidf.knTrigramPpl(
          docs.filter(col("doc_id") % 10 =!= 0), docs, "text", "doc_id")
        .select(col("doc_id"), col("n_trigrams"),
          round(col("nll"), 6).as("nll_r"), round(col("ppl"), 3).as("ppl_r"))
        .orderBy(col("doc_id"))
    }),

    // CCNet perplexity buckets (Tfidf.perplexityBuckets): one KN bigram LM
    // PER LANGUAGE in a single plan (group columns ride every model key),
    // self-scored, per-language ntile terciles over (rounded ppl, id).
    // The oracle rebuilds the per-lang count tables and replays the
    // interpolation and the ntile cut exactly.
    "q175_ccnet_buckets" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      graft.operators.Tfidf.perplexityBuckets(docs, "text", "doc_id", Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_bigrams"), col("ppl_r"),
          col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // Distributed k-means step (Ann.kmeansStep) with the fixed LCG centroids:
    // max-dot assignment + per-cluster counts and per-dimension means in ONE
    // scan + ONE aggregation — the semantic-clustering primitive (SemDeDup-
    // style curation). Unpivoted to (cluster, n, dim, mean_r) rows so the
    // DuckDB oracle replays assignment and the 64 per-dim averages exactly.
    "q89_kmeans_step" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val centroids =
        graft.functions.expressions.HashExpressions.fixedCentroids(100, 16, 64)
      val step = graft.operators.Ann.kmeansStep(emb, "embedding", centroids)
      val meanArr = array((0 until 64).map(i => col(s"m$i")): _*)
      step.select(col("cluster"), col("n"), posexplode(meanArr).as(Seq("dim", "mean")))
        .select(col("cluster"), col("n"), col("dim"),
          round(col("mean"), 6).as("mean_r"))
        .orderBy(col("cluster"), col("dim"))
    }),

    // Unigram-LM negative log-likelihood (Tfidf.unigramNll): the corpus as
    // its own language model, mean −ln p(token) per doc — the CCNet-style
    // perplexity-proxy quality filter. Oracle recomputes counts and the
    // rounded mean.
    "q94_unigram_nll" -> ((s, d) => {
      graft.operators.Tfidf.unigramNll(Tables(s, d, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_tokens"), round(col("nll"), 6).as("nll_r"))
        .orderBy(col("doc_id"))
    }),

    // Bigram conditional NLL with add-one smoothing (Tfidf.bigramNll) — the
    // sharper perplexity-proxy filter; oracle recomputes bigram/prefix
    // counts, vocabulary size and the smoothed mean.
    "q95_bigram_nll" -> ((s, d) => {
      graft.operators.Tfidf.bigramNll(Tables(s, d, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_bigrams"), round(col("nll"), 6).as("nll_r"))
        .orderBy(col("doc_id"))
    }),

    // Domain-mixture sampling (Sampling.mixtureSample): per-language rates
    // derived from target token weights vs available token mass (binding
    // group keeps 100%), stable salted-hash row selection — the oracle
    // recomputes rates and replays the same md5 cutoff.
    "q92_domain_mixture" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          T.tokenCount(col("text")).cast(LongType).as("n_tokens"))
      graft.operators.Sampling.mixtureSample(docs, "doc_id", "lang", "n_tokens",
          Map("en" -> 0.4, "de" -> 0.3, "fr" -> 0.3))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          round(col("rate"), 6).as("rate_r"))
        .orderBy(col("doc_id"))
    }),

    // SemDeDup-style semantic near-dup pairs (Dedup.semanticDedupPairs):
    // fixed-centroid cluster assignment as the blocking key, all-pairs
    // within cluster, exact cosine >= 0.2 — the oracle replays assignment
    // (q41/q89's LCG CTE) and the per-cluster pairing exactly.
    "q90_semantic_dedup" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val centroids =
        graft.functions.expressions.HashExpressions.fixedCentroids(100, 16, 64)
      // maxBucketSize pinned above any cluster population: the oracle
      // computes ALL within-cluster pairs, so the chain guard must never
      // flip the executed plan away from it on a bigger corpus
      Dedup.semanticDedupPairs(emb, "embedding", "vec_id", centroids,
          threshold = 0.2, maxBucketSize = 1 << 20)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine_r"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Embedding near-dup pairs via BANDED hyperplane LSH + exact cosine
    // verification — fully oracle-checked since round 5: the DuckDB oracle
    // replays the 24-bit hyperplane signature (same LCG CTE as q29), the
    // 4x6-bit banding, the bucket self-join, pair dedup and the exact cosine
    // filter. (The hot-bucket chain guard never triggers at this scale —
    // max bucket ≪ 1000 — so the plain per-bucket pairing the oracle
    // computes is the executed plan; recall vs brute force additionally
    // spec-asserted.)
    "q30_embedding_neardup" -> ((s, d) => {
      Dedup.embeddingNearDupPairs(Tables(s, d, "embeddings"), "embedding", "vec_id",
          dim = 64, planesPerBand = 6, bands = 4, threshold = 0.1)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine_r"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Fuzzy entity-match core (J4): blocked jaro-winkler best-candidate join —
    // suppliers matched to customers within the same nation block; oracle via
    // DuckDB's jaro_winkler_similarity.
    "q32_fuzzy_match" -> ((s, d) => {
      val cust = Tables(s, d, "customer")
        .select(col("c_nationkey").as("nk"), col("c_custkey"), col("c_name"))
      val supp = Tables(s, d, "supplier")
        .select(col("s_nationkey").as("nk"), col("s_suppkey"), col("s_name"))
      val scored = supp.join(cust, Seq("nk"))
        .withColumn("jw_r", round(S.jaro_winkler(col("s_name"), col("c_name")), 6))
      graft.operators.WindowOps.topKPerGroup(scored,
          Seq(col("s_suppkey")), Seq(col("jw_r").desc, col("c_custkey")), 1)
        .select(col("s_suppkey"), col("c_custkey"), col("jw_r"))
        .orderBy(col("s_suppkey"))
    }),

    // Multimodal plumbing: binary media table → batched stub-decode →
    // fixed-dim embeddings. Oracle-checked since round 5: the stub codec is
    // pure byte arithmetic (pixel j = byte[(j*2654435761) mod len]/256,
    // embedding d = mean of 4 pixels = byte-sum/1024 — EXACT in float), and
    // the corpus text is ASCII so the oracle indexes bytes as characters.
    // The embedding array is emitted as a JSON string of rounded values:
    // the driver's checker sorts result columns, and a raw float array is
    // unhashable there — and a stable text form is deterministic anyway.
    "q34_media_featurize" -> ((s, d) => {
      val media = graft.multimodal.Multimodal.asMediaTable(
        Tables(s, d, "documents"), "doc_id", "text")
      graft.multimodal.Multimodal.featurize(media, dim = 16, batchSize = 128)
        .select(col("media_id"), col("n_bytes"),
          to_json(transform(col("embedding"), x => round(x.cast(DoubleType), 6)))
            .as("embedding_json"))
        .orderBy(col("media_id"))
    }),

    // Multimodal frame sampling: strided binary frame explode — oracle-
    // checked since round 5 (frame count/positions are closed-form in the
    // payload byte length; all emitted frames are full 64-byte slices).
    "q35_frame_sample" -> ((s, d) => {
      val media = graft.multimodal.Multimodal.asMediaTable(
        Tables(s, d, "documents"), "doc_id", "text")
      graft.multimodal.Multimodal.sampleFrames(media, frameBytes = 64, everyN = 2)
        .select(col("media_id"), col("frame_no"), length(col("frame")).as("frame_len"))
        .orderBy(col("media_id"), col("frame_no"))
    }),

    // FLAGSHIP composed curation pipeline — the full training-data recipe as
    // one oracle-checked query: repetition filter (planted boilerplate on
    // every 7th doc) → token-count band → normalized-fingerprint dedup →
    // exact-13-gram decontamination vs the q80 benchmark windows →
    // deterministic 80/10/10 split. Every stage is an already-proven
    // operator; the DuckDB oracle chains the same proven fragments.
    "q84_curation_pipeline" -> ((s, d) => {
      import graft.operators.{Dedup, Repetition, Sampling}
      val docs0 = Tables(s, d, "documents")
      val docs = docs0.withColumn("text2",
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), repeat(concat(lit("\n"), substring(col("text"), 1, 40)), 5)))
          .otherwise(col("text")))
      val keepRep = Repetition.lineRepetition(docs, "doc_id", "text2")
        .filter(col("dup_line_frac") <= 0.3).select("doc_id")
      val kept = docs0.join(keepRep, Seq("doc_id"), "left_semi")
        .withColumn("n_tokens", T.tokenCount(col("text")).cast(LongType))
        .filter(col("n_tokens").between(20, 2000))
      val withFp = kept.withColumn("fp", T.fingerprint(col("text")))
      val minIds = withFp.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      // deduped feeds THREE consumers (gram generation, the anti-join's left
      // side, the final projection) — materialize once or the filter+dedup
      // subtree re-executes per consumer
      val deduped = withFp.join(minIds, Seq("fp", "doc_id"), "left_semi")
        .localCheckpoint(true)
      val bench = docs0.filter(pmod(col("doc_id"), lit(25)) === 0)
        .select(col("doc_id"),
          array_join(slice(S.tokens(col("text")), 3, 30), " ").as("text"))
      val contaminated = Dedup.ngramOverlapJoin(
          deduped.select(col("doc_id"), col("text")), bench, "text", "doc_id", n = 13)
        .select(col("id_l").as("doc_id")).distinct()
      val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
      Sampling.splitByHash(clean, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("n_tokens"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // REAL image decode, fully oracle-checked: synthetic 8×8 PNGs (gray
    // pixel = (id·31 + y·8 + x) mod 256, generated in executors) round-trip
    // losslessly through javax.imageio; per-row means use v/256.0 doubles
    // (exact in binary, order-independent sums) so the oracle predicts the
    // decoded values in closed form — if the decode path breaks, values
    // mismatch.
    "q82_image_decode" -> ((s, d) => {
      import graft.multimodal.{ImageIoCodec, Multimodal}
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
      val ids = Tables(s, d, "documents")
        .select(col("doc_id").cast(LongType).as("media_id"))
      val mediaSchema = StructType(Seq(
        StructField("media_id", LongType), StructField("content", BinaryType)))
      val media = Multimodal.mapBatched(ids, 64, mediaSchema) { batch =>
        batch.iterator.map(r =>
          Row(r.getLong(0), ImageIoCodec.testPattern(r.getLong(0), 8, 8)))
      }
      Multimodal.imageRowMeans(media)
        .orderBy(col("media_id"), col("y"))
    }),

    // REAL audio decode, fully oracle-checked: synthetic PCM16 WAV tones
    // (sample i = (id·31 + i) mod 65536 − 32768, generated in executors)
    // round-trip losslessly through javax.sound; 64-sample window means use
    // v/32768.0 doubles (exact, order-independent sums) so the oracle
    // predicts decoded values in closed form.
    "q85_audio_decode" -> ((s, d) => {
      import graft.multimodal.{AudioWavCodec, Multimodal}
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
      val ids = Tables(s, d, "documents")
        .select(col("doc_id").cast(LongType).as("media_id"))
      val mediaSchema = StructType(Seq(
        StructField("media_id", LongType), StructField("content", BinaryType)))
      val media = Multimodal.mapBatched(ids, 64, mediaSchema) { batch =>
        batch.iterator.map(r =>
          Row(r.getLong(0), AudioWavCodec.testTone(r.getLong(0), nSamples = 256)))
      }
      Multimodal.audioWindowMeans(media, windowSize = 64)
        .orderBy(col("media_id"), col("window_no"))
    }),

    // Image near-dup dedup via perceptual hash, fully oracle-checked: 8×8
    // near-dup PNGs (groups of 5 share a base pattern, members differ at one
    // pixel — ImageIoCodec.nearDupPattern) decode for real through
    // javax.imageio, dHash to 56-bit fingerprints, and pair up through the
    // banded hamming join. With 4 bands over 56 bits, hamming ≤ 3 recall is
    // exact by pigeonhole, so the oracle replays pixels → comparison bits →
    // all-pairs XOR popcount in closed form — the decode, the hash, and the
    // join are ALL value-verified.
    "q100_image_dedup" -> ((s, d) => {
      import graft.multimodal.{ImageIoCodec, Multimodal}
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
      val ids = Tables(s, d, "documents")
        .select(col("doc_id").cast(LongType).as("media_id"))
      val mediaSchema = StructType(Seq(
        StructField("media_id", LongType), StructField("content", BinaryType)))
      val media = Multimodal.mapBatched(ids, 64, mediaSchema) { batch =>
        batch.iterator.map(r =>
          Row(r.getLong(0), ImageIoCodec.nearDupPattern(r.getLong(0), 8, 8, 5)))
      }
      Multimodal.imageDupePairs(media, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast(LongType).as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Dedup clustering: near-dup pairs (blocked unigram jaccard, same
    // semantics as q25 but via the exact prefix-filtering join) → connected
    // components via min-label propagation; every doc reports its cluster id.
    // Oracle computes the same closure with a recursive CTE.
    "q52_dedup_clusters" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), S.tokens(col("text")).as("toks"))
      val pairs = Dedup.jaccardSelfJoin(docs, "toks", "doc_id", Seq("lang", "source"), 0.5)
        .select(col("id_a"), col("id_b"))
      // Explicit cutover budget: the OPERATOR default (100k edges) is
      // conservative for arbitrary callers; this pipeline budgets 1M edges
      // (~0.3 GB transient driver footprint, bounded by the take-probe) for
      // the driver union-find because verified pair evidence is orders of
      // magnitude smaller than the corpus — past the budget it falls through
      // to the distributed loop (BASELINE.md 10× row exercises exactly that).
      val comp = graft.operators.ConnectedComponents.run(pairs, "id_a", "id_b",
        localEdgeThreshold = 1000000L)
      Tables(s, d, "documents").select(col("doc_id"))
        .join(comp, col("doc_id") === col("vertex"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic distributed logistic regression (Retrieval.logisticFit):
    // the TRAINABLE quality classifier. 4 batch-GD iterations over integer
    // doc features (chars, 'the' count) vs the lang='en' label. The entire
    // FIT replays in SQL: rational fast-sigmoid (only correctly-rounded
    // IEEE ops — no libm exp), per-row gradient terms floored to LONG
    // before the exact integer sum (partitioning can't perturb), fixed
    // left-associated weight arithmetic (unrolled per-iteration CTEs).
    // The label is a text property ("has ≥2 'the'") so the boundary is
    // learnable on the shared-vocabulary synthetic corpus (whose `lang`
    // column is deliberately uncorrelated with its text); the fit reaches
    // ~0.91 accuracy with mixed predictions in 4 iterations — the ORACLE
    // pins the mechanism bit-for-bit, the spec pins learnability on a
    // cleanly separable set.
    "q165_logistic_quality" -> ((s, d) => {
      val docs = Tables(s, d, "documents").select(col("doc_id"),
        expr("n_chars div 100").cast(IntegerType).as("f_len"),
        expr("regexp_count(text, '\\\\bthe\\\\b')").cast(IntegerType).as("f_the"),
        (expr("regexp_count(text, '\\\\bthe\\\\b')") >= 2).cast(IntegerType).as("y"))
      val (_, preds) = graft.operators.Retrieval.logisticFit(docs,
        Seq("f_len", "f_the"), "doc_id", "y",
        iters = 4, lrNum = 1, lrDen = 1)
      preds.select(col("doc_id"), col("y").cast(LongType).as("y"),
          col("z_r"), col("p_r"), col("pred"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic distributed SPARSE logistic regression
    // (Retrieval.logisticFitSparse): the weights-as-a-DataFrame regime —
    // hashed bag-of-words features (md5 buckets mod 256), 3 batch-GD
    // iterations, weights QUANTIZED to longs so the per-doc margin is an
    // exact integer sum under any partitioning. The oracle unrolls all
    // three iterations as CTEs over the same (doc, feature, cnt) table —
    // the fit itself replays, not just the scoring.
    "q174_sparse_logistic" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val labels = docs.select(col("doc_id"),
        (expr("regexp_count(text, '\\\\bthe\\\\b')") >= 2).cast(IntegerType).as("y"))
      val feats = graft.operators.Retrieval.hashedTokenFeatures(
        docs, "text", "doc_id", 256)
      val (_, preds) = graft.operators.Retrieval.logisticFitSparse(
        feats, labels, "doc_id", "y", iters = 3, lrNum = 1, lrDen = 1)
      preds.select(col("doc_id"), col("y").cast(LongType).as("y"),
          col("z_r"), col("p_r"), col("pred"))
        .orderBy(col("doc_id"))
    }),

    // Signature-index incremental near-dedup (Dedup.incrementalMinhash):
    // the LSH daily-ingest path — the stored corpus participates ONLY via
    // its persisted (id, shingle-hash, signature) index; the batch bands
    // against it and verifies candidate pairs exactly. Run in the q26
    // provably-exact regime (t=0.999 ⇒ only EQUAL shingle sets pair, and
    // equal sets ⇒ equal signatures ⇒ shared buckets ⇒ recall 1), so the
    // oracle replays the whole thing as set-equality groups with the
    // stored-beats-in-batch precedence.
    "q168_incremental_minhash" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val stored = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .select(col("doc_id"), col("text"))
      // planted batch: fresh docs (+20000), re-crawled copies of stored
      // docs (+40000 → dup_of_stored), and second copies of the fresh docs
      // (+60000 → dup_in_batch toward the +20000 twin)
      val fresh = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      val batch = fresh.select((col("doc_id") + 20000).as("doc_id"), col("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 1)
          .select((col("doc_id") + 40000).as("doc_id"), col("text")))
        .unionByName(fresh.select((col("doc_id") + 60000).as("doc_id"), col("text")))
      val idx = Dedup.minhashIndex(stored, "text", "doc_id")
      val (report, _) = Dedup.incrementalMinhash(idx, batch, "text", "doc_id",
        threshold = 0.999)
      report.orderBy(col("doc_id"))
    }),

    // Cross-batch incremental dedup (Dedup.incrementalDedup): the daily-
    // ingest shape — batch (doc_id % 3 = 0) deduplicated against the stored
    // corpus (the rest) via the exact prefix-filter cross join, then
    // within-batch components with keep-min canonicalization. Both joins
    // and the precedence (stored beats in-batch) replay exactly; the
    // recursive-CTE component replay is q52's.
    "q164_incremental_dedup" -> ((s, d) => {
      val toks = Tables(s, d, "documents").select(col("doc_id"), col("lang"),
        col("source"), array_distinct(S.tokens(col("text"))).as("toks"))
      val stored = toks.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val batch = toks.filter(pmod(col("doc_id"), lit(3)) === 0)
      Dedup.incrementalDedup(stored, batch, "toks", "doc_id",
          Seq("lang", "source"), 0.7)
        .orderBy(col("doc_id"))
    }),

    // TWO consecutive ingest days through the incremental-dedup fixpoint
    // (Dedup.incrementalDedup): day-1 survivors JOIN the stored corpus, and
    // day-2 — an exact re-send of day 1 under fresh ids — must dedup
    // entirely against it: every day-2 copy of a day-1 'kept' doc comes
    // back dup_of_stored attributed to that survivor. The oracle replays
    // BOTH days (cross join, per-day recursive components, survivor union)
    // — the only multi-step fixpoint replay in the suite.
    "q183_two_day_dedup" -> ((s, d) => {
      val toks = Tables(s, d, "documents").select(col("doc_id"), col("lang"),
        col("source"), array_distinct(S.tokens(col("text"))).as("toks"))
      val stored0 = toks.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      val day1 = toks.filter(pmod(col("doc_id"), lit(4)) === 0)
        .withColumn("doc_id", col("doc_id") + 20000)
      val day2 = toks.filter(pmod(col("doc_id"), lit(4)) === 0)
        .withColumn("doc_id", col("doc_id") + 40000)
      val r1 = Dedup.incrementalDedup(stored0, day1, "toks", "doc_id",
        Seq("lang", "source"), 0.7)
      val stored1 = stored0.unionByName(day1.join(
        r1.filter(col("status") === "kept").select("doc_id"), Seq("doc_id")))
      val r2 = Dedup.incrementalDedup(stored1, day2, "toks", "doc_id",
        Seq("lang", "source"), 0.7)
      r1.withColumn("day", lit(1L)).unionByName(r2.withColumn("day", lit(2L)))
        .orderBy(col("day"), col("doc_id"))
    }),

    // Curation pipeline v2 — the round-10 operators COMPOSED end-to-end:
    // Moore-Lewis in-domain selection (ce_diff ≤ −0.01) ∩ n-gram novelty
    // vs the train corpus (novelty ≥ 0.5, drops re-crawls of what the
    // corpus already holds) → deterministic token-budget cut. The oracle
    // chains the q181, q184 and q87 replays over one shared tokenization.
    "q187_curation_v2" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val ml = graft.operators.Tfidf.mooreLewisScore(
          train.filter(col("lang") === "en"), train, docs, "text", "doc_id")
        .filter(round(col("ce_diff"), 6) <= -0.01)
        .select(col("doc_id"), round(col("ce_diff"), 6).as("ce_diff_r"))
      val nov = Dedup.ngramNovelty(train, docs, "text", "doc_id", n = 13)
        .filter(round(col("novelty"), 6) >= 0.5)
        .select(col("doc_id"), round(col("novelty"), 6).as("novelty_r"))
      val cand = docs.select(col("doc_id"),
          T.tokenCount(col("text")).cast(LongType).as("n_tokens"))
        .join(ml, Seq("doc_id")).join(nov, Seq("doc_id"))
      graft.operators.Sampling.tokenBudgetSample(cand, "doc_id", "n_tokens",
          budget = 3000L)
        .orderBy(col("doc_id"))
    }),

    // Margin-criterion pair mining (Ann.marginMine): the LASER/CCMatrix
    // bitext-mining score over two embedding sides (even/odd vec_ids as
    // pseudo-languages) — ratio margin over both directions' top-4
    // neighborhoods, top-1 retrieval, threshold 1.02. Oracle replays the
    // full cross cosines, both kNN averages, and the margin.
    "q186_margin_mine" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      Ann.marginMine(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
          emb.filter(pmod(col("vec_id"), lit(2)) === 1),
          "embedding", "vec_id", k = 4, threshold = 1.02)
        .select(col("x_id"), col("y_id"), round(col("cosine"), 6).as("cosine_r"),
          round(col("margin"), 6).as("margin_r"))
        .orderBy(col("x_id"))
    }),

    // Per-doc n-gram novelty vs the train corpus (Dedup.ngramNovelty): the
    // graded complement of the binary contamination flag — fraction of each
    // doc's DISTINCT 13-grams unseen in train. Train docs themselves
    // score 0; fresh text ~1. Oracle replays occurrences minus the distinct
    // train gram set over gram strings.
    "q184_ngram_novelty" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      Dedup.ngramNovelty(docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
          docs, "text", "doc_id", n = 13)
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          round(col("novelty"), 6).as("novelty_r"))
        .orderBy(col("doc_id"))
    }),

    // Vocabulary coverage curve (CorpusStats.vocabCoverage): top-200 tokens
    // by frequency with cumulative corpus-mass coverage — the tokenizer-
    // sizing curve. TakeOrderedAndProject top-k (never a global vocab
    // sort); the cumulative window runs over the 200 rows only.
    "q185_vocab_coverage" -> ((s, d) => {
      graft.operators.CorpusStats.vocabCoverage(
          Tables(s, d, "documents"), "text", topK = 200)
        .select(col("rank"), col("token"), col("cnt"),
          round(col("coverage"), 6).as("coverage_r"))
        .orderBy(col("rank"))
    }),

    // Composed dedup pipeline (exact text → normalized fingerprint → blocked
    // near-dup, cheapest first, stages persisted) with the DETERMINISTIC
    // prefix-filter Jaccard stage so the whole chain is oracle-checkable
    // end-to-end; emits the survivor set.
    "q53_dedup_pipeline" -> ((s, d) => {
      val (survivors, _) = Dedup.dedupPipeline(Tables(s, d, "documents"),
        "text", "doc_id", shingleN = 1, threshold = 0.7,
        exactVerify = true, blockCols = Seq("lang", "source"))
      // materialize the small projection, then release the pipeline's cached
      // survivor blocks (caller-owns-unpersist contract) so they don't occupy
      // executor memory for the rest of the suite
      val out = survivors.select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
      survivors.unpersist()
      out
    }),

    // Token-window chunking (pretraining prep): 64-token windows with
    // 16-token overlap, one row per chunk, fully oracle-checked.
    "q50_chunking" -> ((s, d) => {
      val chunked = Tables(s, d, "documents")
        .select(col("doc_id"),
          posexplode(T.chunkTokens(col("text"), chunkTokens = 64, overlap = 16))
            .as(Seq("__p", "c")))
      chunked.select(col("doc_id"),
          col("c.chunk_id").cast(LongType).as("chunk_id"),
          col("c.chunk").as("chunk_text"))
        .withColumn("chunk_tokens", T.tokenCount(col("chunk_text")).cast(LongType))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // Deterministic train/val/test split: md5-bucket assignment is a pure
    // function of doc_id — reproducible across engines (oracle replicates
    // the exact arithmetic) and stable as the corpus grows.
    "q49_split" -> ((s, d) => {
      graft.operators.Sampling.splitByHash(Tables(s, d, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Leak-safe split (Sampling.leakSafeSplit): q49's hash split keyed by
    // the near-dup COMPONENT canonical id, so a whole duplicate cluster
    // lands on ONE side of every train/test boundary — the guard against
    // eval contamination via near-duplicates. Oracle: q52's recursive-CTE
    // components + q49's bucket arithmetic on the component key.
    "q166_leak_safe_split" -> ((s, d) => {
      val toks = Tables(s, d, "documents").select(col("doc_id"), col("lang"),
        col("source"), array_distinct(S.tokens(col("text"))).as("toks"))
      val pairs = Dedup.jaccardSelfJoin(toks, "toks", "doc_id",
          Seq("lang", "source"), 0.7)
        .select(col("id_a"), col("id_b"))
      graft.operators.Sampling.leakSafeSplit(
          Tables(s, d, "documents").select(col("doc_id")), "doc_id",
          pairs, "id_a", "id_b", Seq("train" -> 0.8, "test" -> 0.2))
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Incremental connected components (ConnectedComponents.incremental):
    // a stored labeling (deterministic synthetic graph over 2/3 of the
    // edges) merged with the remaining third as the daily batch — replay
    // touches only batch-affected components via their star edges, yet the
    // result must equal from-scratch CC over the FULL edge set, which is
    // exactly what the oracle's recursive CTE computes.
    "q171_incremental_cc" -> ((s, d) => {
      import graft.operators.ConnectedComponents
      val ids = Tables(s, d, "documents").select(col("doc_id"))
      val edges = ids
        .select(col("doc_id").as("src"),
          (col("doc_id") % lit(500L) * lit(7L) % lit(1000L)).as("dst"))
        .join(ids.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
      val stored = ConnectedComponents.run(
        edges.filter(pmod(col("src"), lit(3)) =!= 0), "src", "dst")
      ConnectedComponents.incremental(stored,
          edges.filter(pmod(col("src"), lit(3)) === 0), "src", "dst")
        .orderBy(col("vertex"))
    }),

    // Weighted sample without replacement (Sampling.weightedSample):
    // Efraimidis-Spirakis Gumbel keys over stable per-id uniforms — k docs
    // drawn ∝ exp(logw) deterministically; the top-k is a bounded
    // TakeOrdered, never a global sort. Oracle replays hash, key, rank.
    "q167_weighted_sample" -> ((s, d) => {
      val docs = Tables(s, d, "documents").select(col("doc_id"),
        log(col("n_chars").cast(DoubleType) + lit(1.0)).as("logw"))
      graft.operators.Sampling.weightedSample(docs, "doc_id", "logw",
          k = 50, seed = "ws")
        .select(col("doc_id"), col("u_r"), col("key_r"), col("rank"))
        .orderBy(col("rank"))
    }),

    // Salted two-phase aggregation (skew mitigation): must equal the plain
    // groupBy result exactly — exact-integer sums and min keep the oracle
    // float-order-independent.
    "q59_salted_agg" -> ((s, d) => {
      graft.operators.SkewOps.saltedAggregate(Tables(s, d, "events"),
          Seq("event_type"),
          Map("user_id" -> "sum", "event_id" -> "count", "value" -> "min"),
          saltBuckets = 8)
        .orderBy(col("event_type"))
    }),

    // Salted (replicate-and-salt) join for skewed keys: must equal the plain
    // equi-join row-for-row — the oracle IS the plain join.
    "q64_salted_join" -> ((s, d) => {
      val ev = Tables(s, d, "events")
        .select(col("event_id"), col("user_id"))
      val dim = Tables(s, d, "events")
        .select(col("user_id")).distinct()
        .withColumn("user_bucket", pmod(col("user_id"), lit(7)).cast(LongType))
      graft.operators.SkewOps.saltedJoin(ev, dim, Seq("user_id"), saltBuckets = 4)
        .select(col("event_id"), col("user_id"), col("user_bucket"))
        .orderBy(col("event_id"))
    }),

    // Deterministic stratified sampling: per-stratum keep fraction selected by
    // a pure stratum-salted id hash, replicated exactly by the oracle.
    "q60_stratified_sample" -> ((s, d) => {
      graft.operators.Sampling.stratifiedSample(Tables(s, d, "documents"),
          "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 0.1)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-family within-document repetition metrics (duplicate-line and
    // duplicate-char fractions): the training-corpus boilerplate filter.
    // Repeated lines are synthesized onto the corpus (every 3rd doc gets its
    // first 40 chars appended twice as extra lines) so fractions are
    // non-trivial; hash-reduced explode keeps the shuffle O(distinct lines).
    "q79_repetition" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .withColumn("text2",
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(col("text"), lit("\n"), substring(col("text"), 1, 40),
              lit("\n"), substring(col("text"), 1, 40)))
            .otherwise(col("text")))
      graft.operators.Repetition.lineRepetition(docs, "doc_id", "text2")
        .orderBy(col("doc_id"))
    }),

    // GPT-3-style EXACT 13-gram decontamination: benchmark docs synthesized
    // as 30-token windows of every 25th document; any corpus doc sharing one
    // exact 13-gram with a bench doc is flagged with the shared-gram count.
    // Spark counts distinct 64-bit gram hashes (fused shingle kernel, no gram
    // text in the shuffle); the oracle counts the gram strings — identical
    // modulo ~2^-64 collisions.
    "q80_ngram_decontamination" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(25)) === 0)
        .select(col("doc_id"),
          array_join(slice(S.tokens(col("text")), 3, 30), " ").as("text"))
      graft.operators.Dedup.ngramOverlapJoin(docs, bench, "text", "doc_id", n = 13)
        .orderBy(col("id_l"), col("id_r"))
    }),

    // Repeated-line removal (cleanse counterpart of q79, same planted
    // duplicates): rebuild docs keeping first occurrence of each line in
    // original order; exact string compare against the oracle's rebuild.
    "q83_drop_repeated_lines" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .withColumn("text2",
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(col("text"), lit("\n"), substring(col("text"), 1, 40),
              lit("\n"), substring(col("text"), 1, 40)))
            .otherwise(col("text")))
      graft.operators.Repetition.dropRepeatedLines(docs, "doc_id", "text2")
        .orderBy(col("doc_id"))
    }),

    // Deterministic token-budget sample ("~10k tokens of corpus"): stable
    // (hash-bucket, id) order, keep while the running token total fits —
    // two-phase bucket prefix-sum on the Spark side, equivalent global
    // cumsum in the oracle.
    "q87_token_budget" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), T.tokenCount(col("text")).cast(LongType).as("n_tokens"))
      graft.operators.Sampling.tokenBudgetSample(docs, "doc_id", "n_tokens", budget = 10000L)
        .orderBy(col("doc_id"))
    }),

    // Sequence packing (Sampling.packSequences): concat-then-chunk doc →
    // training-sequence mapping at 512 tokens, via the exact distributed
    // prefix sum (bucket totals + intra-bucket window — no global sort);
    // the oracle replays the same (bucket, id) order with a window cumsum.
    "q91_sequence_packing" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), T.tokenCount(col("text")).cast(LongType).as("n_tokens"))
      graft.operators.Sampling.packSequences(docs, "doc_id", "n_tokens", seqLen = 512L)
        .orderBy(col("doc_id"))
    }),

    // CORPUS-level line dedup (C4/RefinedWeb recipe): a shared boilerplate
    // line is planted on EVERY doc plus a per-doc unique line; across the
    // corpus the boilerplate must survive only in the first document (min
    // (doc, position)), every other doc keeps its unique content.
    "q86_corpus_line_dedup" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .withColumn("text2", concat(col("text"),
          lit("\nSTANDARD DISCLAIMER APPLIES"),
          lit("\nref "), substring(col("text"), 1, 20)))
      graft.operators.Repetition.dropRepeatedLinesCorpus(docs, "doc_id", "text2")
        .orderBy(col("doc_id"))
    }),

    // Gopher top-bigram character coverage; every 4th doc gets a planted
    // repeated bigram so argmax + fraction paths are non-trivial. Struct-max
    // tie-break replicated exactly by the oracle.
    "q81_top_ngram" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .withColumn("text2",
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(col("text"), repeat(lit(" spam ham"), 5)))
            .otherwise(col("text")))
      graft.operators.Repetition.topNgramCharFrac(docs, "doc_id", "text2", n = 2)
        .orderBy(col("doc_id"))
    }),

    // TF-IDF top terms per document (classic term weighting; fully
    // oracle-checked including the log-scaled scores).
    "q42_tfidf" -> ((s, d) => {
      graft.operators.Tfidf.topTerms(Tables(s, d, "documents"), "text", "doc_id", k = 3)
        .withColumn("term_rank", col("term_rank").cast(LongType))
        .orderBy(col("doc_id"), col("term_rank"))
    }),

    // PII detect + scrub over free text (emails/SSNs/phones synthesized onto
    // the document corpus so counts are non-trivial).
    "q39_pii_scrub" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .withColumn("text2", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or "),
          lpad(pmod(col("doc_id"), lit(900)) + 100, 3, "0"), lit("-555-"),
          lpad(pmod(col("doc_id"), lit(9000)) + 1000, 4, "0")))
      docs.select(col("doc_id"),
          T.piiCount(col("text2"), "email").cast(LongType).as("n_email"),
          T.piiCount(col("text2"), "phone").cast(LongType).as("n_phone"),
          T.piiCount(col("text2"), "ssn").cast(LongType).as("n_ssn"),
          T.piiScrub(col("text2")).as("scrubbed"))
        .orderBy(col("doc_id"))
    }),

    // J3 exact entity match through the EntityMatch operator: orders as the
    // incoming frame inherit the primary's (customer) global id on the
    // (custkey, system) composite key; unmatched stay null and split out.
    "q38_entity_exact" -> ((s, d) => {
      val primary = Tables(s, d, "customer")
        .select(col("c_custkey").as("customerno"), lit("A").as("srcsystemid"),
          concat(lit("g-"), col("c_custkey")).as("globalid"))
      val incoming = Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("customerno"),
          lit("A").as("srcsystemid"), lit(null).cast("string").as("globalid"))
      val spec = graft.operators.EntityMatch.MatchSpec(
        "unused", "globalid", "", "customerno", "srcsystemid", Seq.empty)
      val (matched, unmatched) = graft.operators.EntityMatch.exactMatch(incoming, primary, spec)
      matched.unionByName(unmatched)
        .select(col("o_orderkey"), col("customerno"), col("globalid"))
        .orderBy(col("o_orderkey"))
    }),

    // Rolling-hash fingerprint (Rabin-Karp k-gram min — winnowing-lite):
    // min rolling hash per doc as a content signature (rows-only — exercises
    // the HOF rolling-hash expression).
    "q31_rolling_fingerprint" -> ((s, d) => {
      Tables(s, d, "documents")
        .select(col("doc_id"), array_min(T.rollingHashes(col("text"), 16)).as("min_kgram_hash"))
        .orderBy(col("doc_id"))
    }),

    // BPE tokenizer training, step 1 (Bpe.pairCounts over Bpe.wordVocab):
    // frequency-weighted adjacent character-pair counts — the argmax
    // candidates for the first merge. Top-100 under the full deterministic
    // tiebreak (cnt desc, pair). The oracle recomputes the word-frequency
    // vocab and the pair sums via LATERAL position unnest.
    "q96_bpe_pairs" -> ((s, d) => {
      val vocab = graft.operators.Bpe.wordVocab(Tables(s, d, "documents"), "text")
      graft.operators.Bpe.pairCounts(vocab)
        .orderBy(col("cnt").desc, col("pair_left"), col("pair_right"))
        .limit(100)
    }),

    // BPE merge application (Bpe.applyMerges): a fixed 3-merge cascade
    // ((t,a)->ta, (b,l)->bl, (bl,e)->ble) re-segments the vocab — exercises
    // the left-to-right greedy fold including multi-character merge
    // composition. The oracle replays it on a pipe-wrapped symbol-string
    // encoding ('table' -> '|t||a||b||l||e|'), where SQL replace()'s
    // non-overlapping left-to-right scan is exactly the BPE merge pass.
    "q97_bpe_segment" -> ((s, d) => {
      val vocab = graft.operators.Bpe.wordVocab(Tables(s, d, "documents"), "text")
      graft.operators.Bpe.applyMerges(vocab,
          Seq(("t", "a"), ("b", "l"), ("bl", "e")))
        .select(col("word"), col("freq"), array_join(col("symbols"), " ").as("seg"))
        .orderBy(col("word"))
    }),

    // BPE end-to-end encode (Bpe.train + Bpe.encode): TRAIN 4 merges on the
    // corpus (driver-cutover path — zero Spark jobs after the one vocab
    // scan), then tokenize every document with the trained table. The merge
    // table rides into codegen as literals (broadcast-as-literals: the join
    // side is vocab-bounded, the corpus side is one linear scan, no
    // shuffle). The oracle replays the 4 training iterations unrolled
    // (argmax per stage under the same (cnt desc, pair asc) tiebreak,
    // merge as pipe-wrapped replace), segments the vocab, and joins
    // segments back to document word positions.
    "q99_bpe_encode" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val merges = graft.operators.Bpe.train(docs, "text", 4)
        .orderBy(col("rank")).select("pair_left", "pair_right")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      graft.operators.Bpe.encode(docs, "text", merges)
        .filter(size(col("words")) > 0)
        .select(col("doc_id"), array_join(col("segments"), " / ").as("enc"))
        .orderBy(col("doc_id"))
    }),

    // BM25 top-k retrieval (Retrieval.bm25TopK): four keyword queries over
    // the corpus, Lucene-style always-positive idf, k1=1.2 b=0.75. The
    // oracle recomputes tf/df/doclen/avgdl and the same rounded-score +
    // doc-id ranking.
    "q105_bm25" -> ((s, d) => {
      graft.operators.Retrieval.bm25TopK(Tables(s, d, "documents"),
          "text", "doc_id", Bm25Queries, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Persisted BM25 index as a fixpoint operator (Retrieval.bm25Index /
    // bm25Append / bm25Search): postings + lengths built over HALF the
    // corpus, APPENDED with the other half (stored rows untouched — tf is
    // doc-local, df/N/avgdl are search-time aggregates), then searched.
    // Must equal the from-scratch q105 result bit-for-bit: the index is
    // append-only by construction, the sparse twin of q169.
    "q170_bm25_index" -> ((s, d) => {
      import graft.operators.Retrieval
      val docs = Tables(s, d, "documents")
      val (p0, l0) = Retrieval.bm25Index(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", "doc_id")
      val (p1, l1) = Retrieval.bm25Append(p0, l0,
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "text", "doc_id")
      Retrieval.bm25Search(p1, l1, "doc_id", Bm25Queries, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Hard-negative mining (Retrieval.hardNegatives): per query, the BM25
    // top-10 after removing that query's known positives — here the same
    // ranking's top-2, the distillation shape — with positives excluded
    // BEFORE ranking so negative ranks are dense. Oracle replays the shared
    // scored-candidates CTE, the top-2 positives, the anti-join, and the
    // re-rank.
    "q182_hard_negatives" -> ((s, d) => {
      import graft.operators.Retrieval
      val docs = Tables(s, d, "documents")
      val positives = Retrieval.bm25TopK(docs, "text", "doc_id", Bm25Queries, k = 2)
        .select(col("query_id"), col("doc_id"))
      Retrieval.hardNegatives(docs, "text", "doc_id", Bm25Queries, positives, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // DSIR importance resampling (Sampling.dsirSample): hashed-unigram
    // importance weights of the English slice vs the whole corpus, Gumbel
    // top-100 under md5-derived deterministic noise. The oracle replays the
    // md5 bucket arithmetic, both smoothed models, and the Gumbel keys.
    "q106_dsir" -> ((s, d) => {
      graft.operators.Sampling.dsirSample(Tables(s, d, "documents"),
          "doc_id", "text", col("lang") === "en", nBuckets = 64, k = 100)
        .orderBy(col("rank"))
    }),

    // Repeated n-gram span scrub (Repetition.scrubRepeatedSpans): 8-token
    // runs appearing in ≥2 distinct docs are masked everywhere. The corpus
    // is synthetic-uniform (few natural 8-gram collisions), so boilerplate
    // is PLANTED: every 7th doc gets the same 10-token banner appended,
    // guaranteeing a non-empty scrub the oracle verifies end-to-end.
    "q107_span_scrub" -> ((s, d) => {
      val docs = Tables(s, d, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" subscribe to our newsletter for updates" +
            " terms of service apply today")))
          .otherwise(col("text")).as("text"))
      graft.operators.Repetition.scrubRepeatedSpans(docs, "doc_id", "text",
          n = 8, minDocs = 2)
        .orderBy(col("doc_id"))
    }),

    // Keep-one span scrub (scrubRepeatedSpans(keepFirst = true)): the Lee
    // et al. exact-substring-dedup contract — each hot 8-gram's corpus-first
    // occurrence (min (doc, pos)) survives, every other copy is masked. Same
    // planted banner as q107; the first banner-carrying doc keeps it.
    "q176_span_scrub_keepone" -> ((s, d) => {
      val docs = Tables(s, d, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" subscribe to our newsletter for updates" +
            " terms of service apply today")))
          .otherwise(col("text")).as("text"))
      graft.operators.Repetition.scrubRepeatedSpans(docs, "doc_id", "text",
          n = 8, minDocs = 2, keepFirst = true)
        .orderBy(col("doc_id"))
    }),

    // Multinomial Naive Bayes language classifier (Retrieval.naiveBayes):
    // train add-one NB on even doc_ids labeled by lang, score odd doc_ids,
    // argmax with class-name tiebreak. The oracle recomputes priors,
    // class-token counts, vocabulary size, and the same rounded argmax.
    "q108_nb_classifier" -> ((s, d) => {
      graft.operators.Retrieval.naiveBayes(Tables(s, d, "documents"),
          "text", "doc_id", "lang", pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("lang"), col("pred"), col("score_r"))
        .orderBy(col("doc_id"))
    }),

    // Epoch shuffle-shard (Sampling.epochShuffleShard): deterministic
    // pseudo-random training order, 8 shards, seeded "ep0" — the dataloader
    // prep step. The oracle replays the md5 position hash and the per-shard
    // row numbering.
    "q109_epoch_shard" -> ((s, d) => {
      graft.operators.Sampling.epochShuffleShard(
          Tables(s, d, "documents").select(col("doc_id")), "doc_id", "ep0", 8)
        .orderBy(col("shard"), col("pos"))
    }),

    // KMV set operations (SketchAggregates.kmv_union/jaccard/intersect):
    // cross-corpus overlap estimation from two mergeable sketches — the
    // "how much does snapshot B overlap snapshot A" question answered
    // WITHOUT a join between the corpora. Per lang: 2-gram shingle sketches
    // (k=32) of the even/odd doc_id halves, then union / Jaccard /
    // intersection estimates as pure array arithmetic over 2×32 longs. The
    // oracle replays the bottom-k sets and the estimator divisions exactly
    // (membership in the union sample ⇔ membership in the side's full
    // distinct-hash set — the KMV closure property).
    "q129_kmv_setops" -> ((s, d) => {
      import graft.functions.expressions.{SketchAggregates => SK}
      val k = 32
      val grams = Tables(s, d, "documents")
        .select(col("lang"), pmod(col("doc_id"), lit(2)).as("half"),
          explode(S.wordShingles(col("text"), 2)).as("g"))
        .select(col("lang"), col("half"),
          conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("h"))
      val sks = grams.groupBy(col("lang"), col("half"))
        .agg(SK.kmv_sketch(col("h"), k).as("sk"))
      val a = sks.filter(col("half") === 0).select(col("lang"), col("sk").as("ska"))
      val b = sks.filter(col("half") === 1).select(col("lang"), col("sk").as("skb"))
      a.join(b, Seq("lang"))
        .select(col("lang"),
          size(col("ska")).cast(LongType).as("na"),
          size(col("skb")).cast(LongType).as("nb"),
          round(SK.kmv_estimate(col("ska"), k), 6).as("est_a_r"),
          round(SK.kmv_estimate(col("skb"), k), 6).as("est_b_r"),
          round(SK.kmv_estimate(SK.kmv_union(col("ska"), col("skb"), k), k), 6)
            .as("est_u_r"),
          round(SK.kmv_jaccard(col("ska"), col("skb"), k), 6).as("jacc_r"),
          round(SK.kmv_intersect_estimate(col("ska"), col("skb"), k), 6)
            .as("est_i_r"))
        .orderBy(col("lang"))
    }),

    // Quality-aware cluster canonicalization (ConnectedComponents
    // .canonicalize): q52's near-dup clusters, but keeping the BEST member
    // (max n_chars, min doc_id ties) instead of the min id — the
    // keep-longest-copy curation rule. Selection is one merge-order-
    // independent min(struct(−score, id)) aggregation; the oracle replays
    // the recursive-CTE components and a window argmax.
    "q130_cluster_canonical" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val toks = docs.select(col("doc_id"), col("lang"), col("source"),
        S.tokens(col("text")).as("toks"))
      val pairs = Dedup.jaccardSelfJoin(toks, "toks", "doc_id",
          Seq("lang", "source"), 0.5)
        .select(col("id_a"), col("id_b"))
      graft.operators.ConnectedComponents.canonicalize(
          docs.select(col("doc_id"), col("n_chars")), pairs,
          "doc_id", "n_chars", localEdgeThreshold = 1000000L)
        .orderBy(col("component"))
    }),

    // Z-order layout (Layout.zorderBy): Morton-interleave the low 8 bits of
    // (user_id, event_id), range-partition + sort by the curve — the
    // multi-dimensional file-clustering step that makes parquet min/max
    // stats prune on BOTH dimensions. The curve code is pure integer bit
    // arithmetic; the oracle replays the interleave expression symbol for
    // symbol. (The physical layout — range exchange + in-partition sort —
    // is asserted by LayoutSpec; the oracle checks the curve values.)
    "q131_zorder" -> ((s, d) => {
      graft.operators.Layout.zorderBy(Tables(s, d, "events"),
          Seq(col("user_id"), col("event_id")), bits = 8, numPartitions = 8)
        .select(col("event_id"), col("user_id"), col("zval"))
        .orderBy(col("zval"), col("event_id"))
    }),

    // Per-doc dedup attribution (Dedup.dedupAttribution): which stage of
    // q53's pipeline dropped each document, or 'kept' — the curation audit
    // trail behind the stage counts. Oracle: q53's stage CTEs + a CASE.
    "q157_dedup_attribution" -> ((s, d) => {
      graft.operators.Dedup.dedupAttribution(Tables(s, d, "documents"),
          "text", "doc_id", shingleN = 1, threshold = 0.7,
          blockCols = Seq("lang", "source"))
        .orderBy(col("doc_id"))
    }),

    // Per-source duplication-rate report: the curation KPI (how dirty is
    // each source) from normalized-text fingerprints — one distinct + agg.
    "q153_dup_rate" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("source"), sha2(trim(lower(col("text"))), 256).as("fp"))
      docs.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          count_distinct(col("fp")).as("n_unique"),
          round(lit(1.0) - count_distinct(col("fp")).cast("double") /
            count(lit(1)).cast("double"), 6).as("dup_rate_r"))
        .orderBy(col("source"))
    }),

    // Length-quality correlation per lang: Pearson r from exact integer
    // moments (Σx, Σy, Σxy, Σx², Σy²) with ONE float formula at the end —
    // the "is quality confounded with length" corpus diagnostic. x = chars,
    // y = alpha-char count (integer quality proxy).
    "q154_length_quality_corr" -> ((s, d) => {
      val base = Tables(s, d, "documents").select(col("lang"),
        col("n_chars").as("x"),
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long").as("y"))
      val m = base.groupBy(col("lang")).agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
      val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      val den = sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
        sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
      m.select(col("lang"), col("n"),
          round(when(den > 0.0, num / den).otherwise(lit(0.0)), 6).as("pearson_r"))
        .orderBy(col("lang"))
    }),

    // CMS join-size estimation (SketchAggregates.cms_join_estimate): the
    // AGMS inner-product estimator — |lineitem ⋈ orders on orderkey|
    // predicted from two bounded sketches, next to the exact truth. Query
    // planning from sketches; min-over-rows of exact integer dot products,
    // overestimate-only (the q118 property, inner-product form). The oracle
    // replays counters, dots, and the true join count.
    "q152_join_estimate" -> ((s, d) => {
      import graft.functions.expressions.{SketchAggregates => SK}
      val li = Tables(s, d, "lineitem").select(col("l_orderkey").cast("string").as("k"))
      val ord = Tables(s, d, "orders").select(col("o_orderkey").cast("string").as("k"))
      val ska = li.agg(SK.cms_sketch(col("k"), 4, 256).as("ska"))
      val skb = ord.agg(SK.cms_sketch(col("k"), 4, 256).as("skb"))
      val truth = Tables(s, d, "lineitem").join(Tables(s, d, "orders"),
        col("l_orderkey") === col("o_orderkey")).count()
      ska.crossJoin(skb).select(
        SK.cms_join_estimate(col("ska"), col("skb"), 4, 256).as("est_join_rows"),
        lit(truth).as("true_join_rows"))
    }),

    // Key-skew diagnostics (CorpusStats.keySkewReport): cardinality, max,
    // Gini, top-3 heavy keys — ops tooling for join planning. The key is a
    // deliberately SKEWED derivation (quadratic residues mod 13: 7 classes,
    // uneven mass) so the Gini and top-k arithmetic is genuinely exercised;
    // the oracle replays counts, the ascending rank-sum Gini, and the top-3.
    "q147_key_skew" -> ((s, d) => {
      graft.operators.CorpusStats.keySkewReport(
        Tables(s, d, "documents").select(
          concat(lit("s"), pmod(col("doc_id") * col("doc_id"), lit(13L))).as("skey")),
        "skey", topK = 3)
    }),

    // Incremental HLL state merge (CorpusStats.mergeHllStates): sketch
    // states from the even-doc "stored" corpus merge with the odd-doc
    // "batch" WITHOUT rescanning either — and the merged estimates must
    // equal the full-corpus sketch, which is exactly what the oracle
    // computes (merge ≡ union: the mergeability contract, oracle-pinned).
    // zh lives ONLY in the batch side, so the pass-through leg of the full
    // outer join is exercised too.
    "q146_hll_merge" -> ((s, d) => {
      import graft.functions.expressions.{SketchAggregates => SK}
      val docs = Tables(s, d, "documents")
      def sketchOf(side: DataFrame) = side
        .select(col("lang"), explode(S.tokens(col("text"))).as("tok"))
        .groupBy(col("lang")).agg(SK.hll_sketch(col("tok"), 8).as("regs"))
      val stored = sketchOf(docs.filter(
        pmod(col("doc_id"), lit(2)) === 0 && col("lang") =!= "zh"))
      val batch = sketchOf(docs.filter(
        pmod(col("doc_id"), lit(2)) === 1 ||
          (pmod(col("doc_id"), lit(2)) === 0 && col("lang") === "zh")))
      graft.operators.CorpusStats.mergeHllStates(stored, batch, Seq("lang"), "regs")
        .select(col("lang"),
          size(filter(col("regs"), r => r =!= 0)).cast(LongType).as("nonzero"),
          aggregate(col("regs"), lit(0L),
            (acc, r) => acc + pow(lit(2.0), lit(53) - r).cast("long")).as("s_num"),
          round(SK.hll_estimate(col("regs"), 8), 4).as("est_r"))
        .orderBy(col("lang"))
    }),

    // Token-dropout augmentation (Augment.tokenDropout): p=0.15 per-position
    // md5 coin, position 0 exempt — deterministic lexical perturbation,
    // zero-shuffle. The oracle replays the per-position coin and the
    // order-preserving rebuild.
    "q144_token_dropout" -> ((s, d) => {
      graft.operators.Augment.tokenDropout(
          Tables(s, d, "documents"), "doc_id", "text", "da1", pPerMille = 150)
        .orderBy(col("doc_id"))
    }),

    // Repeat-factor upsampling (Augment.upsampleByFactor): 1 + (doc_id % 3)
    // copies per doc with stable copy ids — the data-mixing oversample.
    "q145_upsample" -> ((s, d) => {
      graft.operators.Augment.upsampleByFactor(
          Tables(s, d, "documents").select(col("doc_id"), col("lang")),
          "doc_id", lit(1L) + pmod(col("doc_id"), lit(3L)), maxRepeats = 4)
        .select(col("doc_id"), col("lang"), col("copy"), col("aug_id"))
        .orderBy(col("aug_id"))
    }),

    // Classifier evaluation (Retrieval.classifierEval): per-class
    // precision/recall/F1 of the q24 langid heuristic against true labels
    // — exact integer confusion counts, bounded class matrix. The oracle
    // wraps the q24 prediction replay and recomputes the same ratios.
    "q142_classifier_eval" -> ((s, d) => {
      val scored = Tables(s, d, "documents")
        .select(col("lang"), T.langId(col("text")).as("pred"))
      graft.operators.Retrieval.classifierEval(scored, "lang", "pred")
        .orderBy(col("cls"))
    }),

    // n-gram diversity per source (CorpusStats.ngramDiversity): distinct/
    // total ratios for n=1..3 — the repetitiveness readout. Totals by
    // token-count arithmetic, distincts by one explode per n.
    "q143_ngram_diversity" -> ((s, d) => {
      graft.operators.CorpusStats.ngramDiversity(
          Tables(s, d, "documents"), "text", "source", Seq(1, 2, 3))
        .orderBy(col("source"))
    }),

    // Hilbert-curve layout (Layout.hilbertBy): q131's physical shape on the
    // tighter curve — consecutive indices are always grid-adjacent, so
    // files cover tighter boxes than Z-order. The oracle replays the
    // level-reduction xy2d loop with a recursive CTE (8 bounded-integer
    // iterations per row, identical arithmetic to the codegen kernel).
    "q141_hilbert" -> ((s, d) => {
      graft.operators.Layout.hilbertBy(Tables(s, d, "events"),
          pmod(col("user_id"), lit(256L)), pmod(col("event_id"), lit(256L)),
          bits = 8, numPartitions = 8)
        .select(col("event_id"), col("user_id"), col("hval"))
        .orderBy(col("hval"), col("event_id"))
    }),

    // Batch sessionization (WindowOps.sessionize): gap>8h splits a user's
    // event stream into sessions — the batch twin of q78's streaming
    // sessions, ONE window shuffle by user, exact integer-microsecond gap
    // arithmetic. Output: per-session start/end/count/value sum.
    "q132_sessionize" -> ((s, d) => {
      graft.operators.WindowOps.sessionize(Tables(s, d, "events"),
          "user_id", "ts", gapSeconds = 8 * 3600, tieBreak = Seq(col("event_id")))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 6).as("value_sum_r"))
        .orderBy(col("user_id"), col("session_idx"))
    }),

    // Per-group uniform sample (Sampling.groupSample): 25 docs per source by
    // bottom-k salted order hash — O(k) aggregation partials, NO per-group
    // window sort. The oracle replays the md5 order with a row_number.
    "q134_group_sample" -> ((s, d) => {
      graft.operators.Sampling.groupSample(
          Tables(s, d, "documents").select(col("doc_id"), col("source")),
          "doc_id", "source", k = 25, seed = "gs1")
        .orderBy(col("source"), col("pos"))
    }),

    // Per-group quality quota (Sampling.qualityQuota): keep the longest 30%
    // (exact rational 3/10) of every lang by (n_chars desc, doc_id). The
    // keep predicate is integer cross-multiplication — no float ceil.
    "q135_quality_quota" -> ((s, d) => {
      graft.operators.Sampling.qualityQuota(
          Tables(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "doc_id", "lang", "n_chars", num = 3L, den = 10L)
        .select(col("lang"), col("doc_id"), col("n_chars"), col("rank"))
        .orderBy(col("lang"), col("rank"))
    }),

    // Triangle enumeration (GraphOps.triangles): degree-ordered orientation
    // — wedge work bounded O(E^1.5) under ANY degree skew, all equi-joins.
    // Graph: within 16-doc blocks, edges (i, i+1) and (i, i+2) — every
    // in-block consecutive triple closes a triangle, so the result is dense
    // and fully known; the oracle replays orientation + wedge + closure.
    "q137_triangles" -> ((s, d) => {
      val ids = Tables(s, d, "documents").select(col("doc_id").as("i"))
      val edges = ids.select(col("i"), explode(array(col("i") + 1, col("i") + 2)).as("j"))
        .filter(floor(col("j") / 16) === floor(col("i") / 16))
      graft.operators.GraphOps.triangles(edges, "i", "j")
        .orderBy(col("a"), col("b"), col("c"))
    }),

    // Whole-document bin packing (Sampling.binPackDocs): NFD per hash
    // bucket — documents stay intact, bins ≤ 2048 chars, deterministic
    // under any parallelism. The oracle replays the per-bucket sequential
    // fold with a recursive CTE.
    "q139_bin_packing" -> ((s, d) => {
      graft.operators.Sampling.binPackDocs(
          Tables(s, d, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", capacity = 2048, buckets = 8, seed = "bp1")
        .orderBy(col("bucket"), col("bin"), col("doc_id"))
    }),

    // Token-distribution divergence (CorpusStats.tokenDivergence): KL both
    // directions + χ² between the even/odd doc_id halves per lang — the
    // corpus drift monitor. Vocab-bounded after one word-count combine; the
    // oracle recomputes smoothed probabilities and the rounded sums.
    "q133_divergence" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("lang"), pmod(col("doc_id"), lit(2)).as("side"),
          S.tokens(col("text")).as("toks"))
      graft.operators.CorpusStats.tokenDivergence(docs, "toks", "lang", "side")
        .select(col("lang"), col("v"), col("na"), col("nb"),
          round(col("kl_ab"), 6).as("kl_ab_r"),
          round(col("kl_ba"), 6).as("kl_ba_r"),
          round(col("chi2"), 6).as("chi2_r"))
        .orderBy(col("lang"))
    }),

    // k-anonymity with a two-level generalization ladder (Privacy.
    // kAnonymize): exact quasi tuple (nation, segment, 2000-wide balance
    // band) must occur >= 3 times, else the generalized tuple (nation mod
    // 5, segment, 3-band coarsening) must among the failures, else full
    // suppression. The oracle replays both window counts and the ladder.
    "q188_k_anonymity" -> ((s, d) => {
      val cust = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 2000.0).cast(LongType).as("bal_band"))
      graft.operators.Privacy.kAnonymize(cust,
          Seq("c_nationkey", "c_mktsegment", "bal_band"),
          Map("c_nationkey" -> pmod(col("c_nationkey"), lit(5)),
            "bal_band" -> floor(col("bal_band") / 3.0).cast(LongType)),
          k = 3)
        .orderBy(col("c_custkey"))
    }),

    // Luhn-validated card masking (TextFunctions.maskCardNumbers): digit
    // runs (space/dash separated, 13-19 digits) are masked as
    // [CARD-last4] ONLY when the Luhn checksum passes — the planted
    // fixtures exercise a valid Visa-shaped 16-digit, a valid 15-digit
    // Amex-shaped with dashes, an invalid 16-digit, and a too-short run.
    // The oracle extracts the same greedy-regex candidates, replays the
    // checksum digit-by-digit, and folds replace() over the valid ones.
    "q189_luhn_mask" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val planted = docs.select(col("doc_id"), concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          lit(" pay 4539 1488 0343 6467 today")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          lit(" amex 3782-822463-10005 ok")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit(" ref 1234-5678-9012-3456 end")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit(" call 12 34 56")).otherwise(lit(""))).as("text"))
      planted.select(col("doc_id"),
          graft.functions.TextFunctions.maskCardNumbers(col("text")).as("masked_text"))
        .withColumn("n_masked",
          ((length(col("masked_text")) -
            length(regexp_replace(col("masked_text"), "\\[CARD-", ""))) / 6L)
            .cast(LongType))
        .orderBy(col("doc_id"))
    }),

    // Differentially-private count release (Privacy.dpCounts): per
    // (lang, source) counts + deterministic Laplace(1/eps) noise via
    // inverse-CDF over an md5-derived uniform. The oracle replays the md5
    // prefix, the uniform, and the noise formula exactly.
    "q190_dp_counts" -> ((s, d) => {
      graft.operators.Privacy.dpCounts(Tables(s, d, "documents"),
          Seq("lang", "source"), epsilon = 0.5, seed = "dp1")
        .orderBy(col("lang"), col("source"))
    }),

    // Tokenizer fertility by language (Bpe.encode under the q97 fixed
    // 3-merge cascade): tokens-per-word and chars-per-token — the standard
    // tokenizer-efficiency diagnostic before committing a vocab to a
    // multilingual corpus. Exact integer sums; division only at the end.
    "q192_tokenizer_fertility" -> ((s, d) => {
      val enc = graft.operators.Bpe.encode(Tables(s, d, "documents"), "text",
        Seq(("t", "a"), ("b", "l"), ("bl", "e")))
      enc.filter(size(col("words")) > 0)
        .select(col("lang"), col("words"),
          expr("aggregate(segments, 0L, (a, x) -> a + size(split(x, ' ')))").as("__t"),
          expr("aggregate(words, 0L, (a, x) -> a + length(x))").as("__c"))
        .groupBy(col("lang"))
        .agg(sum(size(col("words"))).cast(LongType).as("n_words"),
          sum(col("__t")).as("n_tokens"),
          sum(col("__c")).as("n_chars"))
        .withColumn("fertility",
          round(col("n_tokens").cast("double") / col("n_words"), 6))
        .withColumn("chars_per_token",
          round(col("n_chars").cast("double") / col("n_tokens"), 6))
        .orderBy(col("lang"))
    }),

    // Streaming ANN ingest gate (StreamingOps.ingestAnnGate): the corpus
    // arrives as four micro-batches, each encode-only appended to the
    // persisted IVF-PQ index table under the fixed model (BatchCommitLog +
    // per-batch partition, the q168/q183 delivery contract); the search
    // over the accumulated table must equal the one-shot IVF-PQ
    // composition bit-for-bit (encode is row-wise, so batch boundaries
    // cannot matter) — same oracle as q103/q169.
    "q191_streaming_ann_ingest" -> ((s, d) => {
      val dir = s"/tmp/graft_stream_emb/${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      if (!new java.io.File(s"$dir/_SUCCESS").exists())
        Tables(s, d, "embeddings").repartition(4)
          .write.mode("overwrite").parquet(dir)
      val staged = s.read.parquet(dir)
      val db = s"graftann${math.abs(d.hashCode)}"
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      s.sql(s"DROP TABLE IF EXISTS $db.annidx")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ann_ckpt").toString
      val centroids =
        graft.functions.expressions.HashExpressions.fixedCentroids(100, 16, 64)
      val fc = graft.functions.expressions.HashExpressions.fixedCentroids(200, 128, 8)
      val codebooks = Array.tabulate(8)(j => fc.slice(j * 16, j * 16 + 16))
      val stream = s.readStream.schema(staged.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val q = graft.streaming.StreamingOps.ingestAnnGate(stream, "embedding",
        "vec_id", centroids, codebooks, s"$db.annidx", ckpt, availableNow = true)
      q.awaitTermination()
      s.sql(s"REFRESH TABLE $db.annidx")
      val idx = s.table(s"$db.annidx").select(col("vec_id"), col("__list"), col("code"))
      val queries = Tables(s, d, "embeddings").filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Ann.ivfPqSearch(idx, queries, "embedding", "vec_id", "query_id",
          centroids, codebooks, k = 10, nprobe = 4)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc_r"),
          col("rank").cast(LongType).as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Synchronous label propagation (GraphOps.labelPropagation): 3 fixed
    // iterations over the q119 synthetic link graph (symmetrized,
    // distinct), most-frequent-neighbor-label with smallest-label
    // tiebreak — the deterministic community-detection variant. The
    // oracle unrolls all three vote/argmax rounds.
    "q194_label_propagation" -> ((s, d) => {
      val docs = Tables(s, d, "documents").select(col("doc_id"))
      val nn = docs.agg((max(col("doc_id")) + 1).as("__n"))
      val edges = docs.crossJoin(broadcast(nn))
        .select(col("doc_id").as("src"),
          explode(array((col("doc_id") * 2 + 1) % col("__n"),
            (col("doc_id") * 5 + 3) % col("__n"))).as("dst"))
      graft.operators.GraphOps.labelPropagation(edges, "src", "dst",
          docs, "doc_id", iters = 3)
        .orderBy(col("doc_id"))
    }),

    // Token co-occurrence + PMI (CorpusStats.cooccurrencePmi): pairs of
    // distinct tokens sharing >= 150 documents, PMI vs independence. The
    // oracle replays the per-doc distinct token sets, the maxTokens
    // exclusion, the pair counts and the log-ratio.
    "q195_cooccurrence_pmi" -> ((s, d) => {
      graft.operators.CorpusStats.cooccurrencePmi(
          Tables(s, d, "documents"), "text", "doc_id",
          minSupport = 150, maxTokens = 200)
        .orderBy(col("token_a"), col("token_b"))
    }),

    // Johnson-Lindenstrauss projection (Ann.jlProject): 64 -> 16 dims
    // under the deterministic md5-signed Rademacher matrix, one fused
    // matVec kernel scan. The oracle rebuilds the same matrix from the
    // same md5 parity and replays each output dim as an order-pinned
    // list_reduce sum.
    "q196_jl_projection" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val m = Ann.jlMatrix(64, 16, "jl1")
      emb.select(col("vec_id"),
          posexplode(graft.functions.expressions.HashExpressions
            .mat_vec(col("embedding"), m)))
        .select(col("vec_id"), col("pos").cast(LongType).as("dim"),
          round(col("col"), 6).as("y_r"))
        .orderBy(col("vec_id"), col("dim"))
    }),

    // Streaming DQ gate (StreamingOps.ingestDqGate): the quarantine tier
    // as a standing micro-batch query — orders arrive as four batches,
    // row-level DQDL rules (incl. a CustomSql semi-join rule) split each
    // batch into cleansed/quarantine batch_id partitions under the commit
    // log. Row-level rules are batch-boundary-independent, so the drained
    // tables equal the one-shot batch split the oracle replays.
    "q197_streaming_dq_gate" -> ((s, d) => {
      val dir = s"/tmp/graft_stream_orders/${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      if (!new java.io.File(s"$dir/_SUCCESS").exists())
        Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"))
          .repartition(4).write.mode("overwrite").parquet(dir)
      val staged = s.read.parquet(dir)
      val db = s"graftdq${math.abs(d.hashCode)}"
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      s.sql(s"DROP TABLE IF EXISTS $db.cleansed")
      s.sql(s"DROP TABLE IF EXISTS $db.quarantine")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_dq_ckpt").toString
      val rules = Seq(
        "ColumnValues 'o_orderstatus' in ['O','F']",
        "ColumnValues 'o_totalprice' >= 30000",
        "CustomSql 'SELECT o_orderkey FROM primary WHERE o_custkey IS NOT NULL'")
      val q = graft.streaming.StreamingOps.ingestDqGate(
        s.readStream.schema(staged.schema).option("maxFilesPerTrigger", 1)
          .parquet(dir),
        rules, s"$db.cleansed", s"$db.quarantine", ckpt, availableNow = true)
      q.awaitTermination()
      s.sql(s"REFRESH TABLE $db.cleansed")
      s.sql(s"REFRESH TABLE $db.quarantine")
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      s.table(s"$db.cleansed")
        .select(cols.map(col) :+ lit("pass").as("dq_status"): _*)
        .unionByName(s.table(s"$db.quarantine")
          .select(cols.map(col) :+ lit("quarantine").as("dq_status"): _*))
        .orderBy(col("o_orderkey"))
    }),

    // LSH parameter planner (Dedup.lshPlan): every (bands, rowsPerBand)
    // split of a 64-hash budget priced by the S-curve — recall at t=0.7,
    // curve midpoint, collision mass at junk similarity 0.2. The design
    // table behind the banded operators; the oracle replays the closed
    // forms.
    "q198_lsh_plan" -> ((s, d) => {
      graft.operators.Dedup.lshPlan(s, threshold = 0.7, totalHashes = 64,
          junkSimilarity = 0.2)
        .orderBy(col("bands"))
    }),

    // Right-to-be-forgotten delete (Retention.deleteRows): a bucketed
    // events table loses every row of users divisible by 17 — only the
    // affected bucket partitions rewrite (static INSERT OVERWRITE per
    // partition, so an emptied partition clears instead of surviving a
    // dynamic-overwrite skip). The oracle is the surviving-row predicate.
    "q199_delete_propagation" -> ((s, d) => {
      val db = s"graftdel${math.abs(d.hashCode)}"
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      s.sql(s"DROP TABLE IF EXISTS $db.events")
      val ev = Tables(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      ev.withColumn("bucket", pmod(col("user_id"), lit(8)).cast("int"))
        .write.partitionBy("bucket").saveAsTable(s"$db.events")
      val keys = ev.filter(pmod(col("user_id"), lit(17)) === 0)
        .select(col("user_id")).distinct()
      graft.catalog.Retention.deleteRows(s, s"$db.events", "user_id", keys)
      s.table(s"$db.events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("bucket"))
        .orderBy(col("event_id"))
    }),

    // Poisson bootstrap (Sampling.poissonBootstrap): 10 deterministic
    // one-pass resamples of the mean doc length — per-(replicate, doc)
    // Poisson(1) weights from an md5 uniform through the inverse-CDF
    // ladder; replicate spread estimates the statistic's sampling error.
    // The oracle replays uniform, ladder, and the exact integer sums.
    "q200_poisson_bootstrap" -> ((s, d) => {
      graft.operators.Sampling.poissonBootstrap(
          Tables(s, d, "documents"), "doc_id", "n_chars",
          replicates = 10, seed = "pb1")
        .orderBy(col("replicate"))
    }),

    // USER-LEVEL DP counts (Privacy.dpCountsBounded): per-user
    // contribution capped at 3 rows per event_type AND at 2 event_types
    // per user (md5-ranked deterministic selection), noise scaled to
    // Laplace(maxPerUser*maxGroupsPerUser/eps) — the L1 sensitivity of
    // the WHOLE release to one user. The oracle replays both caps, the
    // rank, the sums, and the noise.
    "q201_dp_bounded" -> ((s, d) => {
      graft.operators.Privacy.dpCountsBounded(Tables(s, d, "events"),
          "user_id", Seq("event_type"), maxPerUser = 3,
          maxGroupsPerUser = 2, epsilon = 0.5, seed = "dpu1")
        .orderBy(col("event_type"))
    }),

    // eps-DP SUM release (Privacy.dpSums): event values clipped into
    // [0, 500] (the sensitivity bound), exact scaled-long sums,
    // Laplace(max(|lo|,|hi|)/eps) noise off the same deterministic draw
    // (here max(|0|,|500|) = 500, so the oracle's -500.0/0.5 scale is the
    // add/remove-one sensitivity). The oracle replays clip, quantized sum,
    // key, and noise.
    "q202_dp_sums" -> ((s, d) => {
      graft.operators.Privacy.dpSums(Tables(s, d, "events"), "value",
          Seq("event_type"), lo = 0.0, hi = 500.0, epsilon = 0.5,
          seed = "dps1")
        .orderBy(col("event_type"))
    }),

    // Calibration bins (Analytics.calibrationBins): sigmoid of the
    // standardized doc length as the score, lang='en' as the label, decile
    // reliability bins — predicted probability vs empirical rate. Mean and
    // sigma come from exact integer sums; the oracle replays the sigmoid,
    // the binning, and the decimal-summed averages.
    // File-skipping stats index (FileStats.refresh + scanPruned): the
    // events table is written range-clustered on event_id into many files
    // per bucket partition, a per-file min/max(+bloom) index is built, and
    // the pruned scan — which opens ONLY the files whose stats admit the
    // predicate — must equal the plain filter bit-for-bit (the oracle).
    // The un-indexed event_type predicate rides along as a residual,
    // proving unknown-column predicates stay row-exact.
    "q203_stats_pruned_scan" -> ((s, d) => {
      import graft.catalog.FileStats
      val db = s"graftfs${math.abs(d.hashCode)}"
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      s.sql(s"DROP TABLE IF EXISTS $db.events")
      s.sql(s"DROP TABLE IF EXISTS $db.events_stats")
      val ev = Tables(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      ev.withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
        .repartitionByRange(8, col("event_id"))
        .write.partitionBy("bucket").saveAsTable(s"$db.events")
      FileStats.refresh(s, s"$db.events", s"$db.events_stats",
        FileStats.StatsSpec(Seq("event_id", "user_id"), bloomCols = Seq("user_id")))
      FileStats.scanPruned(s, s"$db.events", s"$db.events_stats",
          Seq(FileStats.RangePredicate("event_id", Some(200L), Some(400L)),
            FileStats.KeysPredicate("event_type", Seq("click", "purchase"))))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("bucket"))
        .orderBy(col("event_id"))
    }),

    // Stats-pruned right-to-be-forgotten (Retention.deleteRows with a
    // FileStats index): q199's delete, but the affected-partition
    // discovery probes per-file blooms instead of scanning the table; the
    // index auto-refreshes after the rewrite. Same surviving-row oracle
    // shape — the discovery mechanism must be invisible in the result.
    "q204_delete_pruned" -> ((s, d) => {
      import graft.catalog.{FileStats, Retention}
      val db = s"graftdp${math.abs(d.hashCode)}"
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      s.sql(s"DROP TABLE IF EXISTS $db.events")
      s.sql(s"DROP TABLE IF EXISTS $db.events_stats")
      val ev = Tables(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      ev.withColumn("bucket", pmod(col("user_id"), lit(8)).cast("int"))
        .write.partitionBy("bucket").saveAsTable(s"$db.events")
      FileStats.refresh(s, s"$db.events", s"$db.events_stats",
        FileStats.StatsSpec(Seq("user_id"), bloomCols = Seq("user_id")))
      val keys = ev.filter(pmod(col("user_id"), lit(13)) === 0)
        .select(col("user_id")).distinct()
      Retention.deleteRows(s, s"$db.events", "user_id", keys,
        statsTable = Some(s"$db.events_stats"))
      s.table(s"$db.events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("bucket"))
        .orderBy(col("event_id"))
    }),

    // Streaming DATASET-tier DQ gate (StreamingOps.ingestDatasetDqGate):
    // orders staged as 4 single-file group partitions stream through with
    // one file per micro-batch, so each batch IS one deterministic group —
    // per-batch warn (ColumnValues compliance ratio) and halt (RowCount)
    // outcomes land in the results table keyed by batch, and the oracle
    // replays each group's dataset verdict. The halt rule passes on every
    // batch here (the halt-the-stream semantics are spec-pinned, where a
    // failing replay can be observed without wedging Verify).
    "q207_streaming_dataset_dq" -> ((s, d) => {
      val dir = s"/tmp/graft_stream_dsdq/${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      if (!new java.io.File(s"$dir/_SUCCESS").exists())
        Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .withColumn("grp", pmod(col("o_orderkey"), lit(4)).cast("int"))
          .repartition(4, col("grp"))
          .write.mode("overwrite").partitionBy("grp").parquet(dir)
      val staged = s.read.parquet(dir)
      val db = s"graftdsdq${math.abs(d.hashCode)}"
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      s.sql(s"DROP TABLE IF EXISTS $db.sink")
      s.sql(s"DROP TABLE IF EXISTS $db.dq_results")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_dsdq_ckpt").toString
      val q = graft.streaming.StreamingOps.ingestDatasetDqGate(
        s.readStream.schema(staged.schema).option("maxFilesPerTrigger", 1)
          .parquet(dir),
        warnRules = Seq("ColumnValues 'o_orderstatus' in ['O','F']"),
        haltRules = Seq("RowCount > 0"),
        s"$db.sink", s"$db.dq_results", ckpt, availableNow = true)
      q.awaitTermination()
      s.sql(s"REFRESH TABLE $db.sink")
      s.sql(s"REFRESH TABLE $db.dq_results")
      val bg = s.table(s"$db.sink").groupBy(col("batch_id"))
        .agg(first(col("grp")).as("grp")) // one group per batch by construction
      s.table(s"$db.dq_results").join(bg, Seq("batch_id"))
        .select(col("grp").cast(LongType).as("grp"), col("tier"), col("rule"),
          col("outcome"), round(col("metric"), 6).as("metric_r"))
        .orderBy(col("grp"), col("tier"), col("rule"))
    }),

    // Character-exact substring dedup (SuffixArray.scrubRepeatedCharSpans):
    // the Lee et al. ExactSubstr contract via rolling-hash window
    // nomination + exact content verify (spec'd bit-equal to the
    // prefix-doubling reference) — every char inside a >= 40-CHAR substring
    // occurring >= 2 times anywhere (within or across docs) is scrubbed. The planted
    // banner is 3 long tokens, so the 8-token gram scrubs (q107/q176)
    // provably cannot align on it; the natural corpus's exact-duplicate
    // docs scrub each other wholesale. The oracle replays with literal
    // 40-char substr windows — window equality IS the arbitrary-length
    // contract, since an M-char repeat is the union of its M-39 windows.
    "q210_exact_substring_dedup" -> ((s, d) => {
      val banner = "supercalifragilisticexpialidocious corporate-boilerplate appended-automatically"
      val docs = Tables(s, d, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(col("text"), lit(" " + banner)))
          .otherwise(col("text")).as("text"))
      graft.operators.SuffixArray.scrubRepeatedCharSpans(
          docs, "doc_id", "text", minLen = 40)
        .orderBy(col("doc_id"))
    }),

    // Keep-one exact-substring dedup (scrubRepeatedCharSpans(keepFirst)):
    // the full Lee et al. keep-one-occurrence contract at char level —
    // each hot 40-char window's corpus-FIRST occurrence (lexicographic
    // (doc, pos) = min global position) survives, every other copy is
    // scrubbed; the first banner-carrying doc keeps its banner.
    "q211_exact_substring_keepone" -> ((s, d) => {
      val banner = "supercalifragilisticexpialidocious corporate-boilerplate appended-automatically"
      // the even half of the corpus: q210 exercises the full machinery on
      // everything; this query pins the keep-first SEMANTICS without
      // paying the doubling twice over the whole corpus in every bench
      val docs = Tables(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" " + banner)))
            .otherwise(col("text")).as("text"))
      graft.operators.SuffixArray.scrubRepeatedCharSpans(
          docs, "doc_id", "text", minLen = 40, keepFirst = true)
        .orderBy(col("doc_id"))
    }),

    // Unified THREE-TIER streaming DQ gate (StreamingOps.ingestRulesetDqGate):
    // the reference's full per-hook ruleset — warn + quarantine + halt in
    // ONE evaluation per batch, halt on the PRE-quarantine frame (the
    // dataquality_check.py:312 quirk) — over orders staged as 4 single-file
    // group partitions, one per micro-batch. The output replays every
    // tier's verdict per group PLUS the row split the quarantine tier
    // produced (cleansed/quarantined counts), so the oracle checks the
    // verdicts AND the data path in one shot. The halt rule passes on
    // every batch here; halt-the-stream and quarantined-all-rows semantics
    // are spec-pinned where a failing replay can be observed without
    // wedging Verify.
    "q212_streaming_ruleset_dq" -> ((s, d) => {
      val dir = s"/tmp/graft_stream_rsdq/${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      if (!new java.io.File(s"$dir/_SUCCESS").exists())
        Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .withColumn("grp", pmod(col("o_orderkey"), lit(4)).cast("int"))
          .repartition(4, col("grp"))
          .write.mode("overwrite").partitionBy("grp").parquet(dir)
      val staged = s.read.parquet(dir)
      val db = s"graftrsdq${math.abs(d.hashCode)}"
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      Seq("cleansed", "quarantine", "dq_results")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $db.$t"))
      val ckpt = java.nio.file.Files.createTempDirectory("graft_rsdq_ckpt").toString
      val q = graft.streaming.StreamingOps.ingestRulesetDqGate(
        s.readStream.schema(staged.schema).option("maxFilesPerTrigger", 1)
          .parquet(dir),
        warnRules = Seq("ColumnValues 'o_orderstatus' in ['O','F']"),
        quarantineRules = Seq("ColumnValues 'o_totalprice' <= 300000"),
        haltRules = Seq("RowCount > 0"),
        s"$db.cleansed", s"$db.quarantine", s"$db.dq_results", ckpt,
        availableNow = true)
      q.awaitTermination()
      Seq("cleansed", "quarantine", "dq_results")
        .foreach(t => s.sql(s"REFRESH TABLE $db.$t"))
      // batch -> group map and the quarantine tier's row split, from both
      // sides (a batch could in principle quarantine everything)
      val sides = s.table(s"$db.cleansed").select(col("batch_id"), col("grp"),
          lit(1L).as("is_clean"))
        .unionByName(s.table(s"$db.quarantine").select(col("batch_id"),
          col("grp"), lit(0L).as("is_clean")))
      val bg = sides.groupBy(col("batch_id")).agg(
        first(col("grp")).as("grp"), // one group per batch by construction
        sum(col("is_clean")).as("n_clean"),
        sum(lit(1L) - col("is_clean")).as("n_quarantined"))
      s.table(s"$db.dq_results").join(bg, Seq("batch_id"))
        .select(col("grp").cast(LongType).as("grp"), col("tier"), col("rule"),
          col("outcome"), round(col("metric"), 6).as("metric_r"),
          col("n_clean"), col("n_quarantined"))
        .orderBy(col("grp"), col("tier"), col("rule"))
    }),

    // Incremental exact-substring dedup
    // (SuffixArray.incrementalScrubRepeatedCharSpans): the corpus split
    // into a stored two-thirds (indexed once with charWindowIndex — one
    // row per distinct 40-char window content) and a batch third scrubbed
    // against stored ∪ batch THROUGH the index alone (no stored text
    // re-read; index cut to batch-touched hash keys map-side). Keep-one
    // mode, so the corpus-first occurrence exemption must merge correctly
    // across the stored/batch boundary. The oracle is the from-scratch
    // keep-one replay over the union, sliced to the batch.
    "q214_incremental_substring_dedup" -> ((s, d) => {
      import graft.operators.SuffixArray
      val banner = "supercalifragilisticexpialidocious corporate-boilerplate appended-automatically"
      val docs = Tables(s, d, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(col("text"), lit(" " + banner)))
          .otherwise(col("text")).as("text"))
      val stored = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val idx = SuffixArray.charWindowIndex(stored, "doc_id", "text", minLen = 40)
      val (report, _) = SuffixArray.incrementalScrubRepeatedCharSpans(
        idx, batch, "doc_id", "text", minLen = 40, keepFirst = true,
        needUpdatedIndex = false) // only the report is consumed
      report.orderBy(col("doc_id"))
    }),

    // Streaming exact-substring dedup gate
    // (StreamingOps.ingestSubstringDedupGate): documents staged as 4
    // single-file group partitions drain through the gate one batch per
    // file; each batch is scrubbed against everything ingested before it
    // and appends its own window statistics to the APPEND-ONLY index
    // table. Per-batch reports are delivery-order-scoped (spec-pinned);
    // the oracle checks the gate's ORDER-INDEPENDENT contract — the
    // aggregated index equals the one-shot window index of the whole
    // corpus — by replaying every hot 40-char window's count and
    // corpus-first occurrence in SQL.
    "q215_streaming_substring_gate" -> ((s, d) => {
      // the even half of the corpus: q216 takes the odd half, so the two
      // gate-state builds never pay the full corpus twice per bench run
      val db = s"graftssdg${math.abs(d.hashCode)}"
      substringGateState(s, d, db, parity = 0)
      windexHotState(s, db)
    }),

    // Forget-propagation, substring-index leg (Retention.deleteRowsAll
    // over the gate-maintained window index): the q215 gate state is
    // rebuilt, every doc_id % 9 == 0 is deleted from BOTH the report and
    // the window index (the index is PER-DOC decomposed — first_doc IS
    // the contributing document — so deletion is row-per-id exact), and
    // the surviving aggregation must equal a window index over a corpus
    // that NEVER contained those docs: the oracle is q215's replay with
    // the survivor predicate.
    "q216_forget_substring_index" -> ((s, d) => {
      import graft.catalog.Retention
      val db = s"graftfgs${math.abs(d.hashCode)}"
      substringGateState(s, d, db, parity = 1)
      val doomed = Tables(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(9)) === 0).select(col("doc_id"))
      Retention.deleteRowsAll(s, doomed, Seq(
        Retention.DeleteTarget(s"$db.report", "doc_id"),
        Retention.DeleteTarget(s"$db.windex", "first_doc")))
      s.sql(s"REFRESH TABLE $db.windex")
      windexHotState(s, db)
    }),

    // Incremental fixed-point PageRank (PageRank.incrementalFixedPoint):
    // the q119 synthetic link graph split into a stored half (the 2i+1
    // edge family, traced with fixedPointTrace) and a batch half (the
    // 5i+3 family) merged incrementally — final ranks must equal the
    // from-scratch 3-round integer replay over the UNION graph, which is
    // exactly q119's oracle. EXACT (no tolerance) because the fixed-point
    // integer formulation makes rank-change detection an equality test
    // and the floor divisions quantize propagation; the batch-local cost
    // story is ScaleCheck section `pagerank_incremental`.
    "q213_incremental_pagerank" -> ((s, d) => {
      import graft.operators.PageRank
      val docs = Tables(s, d, "documents").select(col("doc_id"))
      val nn = docs.agg((max(col("doc_id")) + 1).as("__n"))
      val base = docs.crossJoin(broadcast(nn))
      val e1 = base.select(col("doc_id").as("src"),
        ((col("doc_id") * 2 + 1) % col("__n")).as("dst"))
      val e2 = base.select(col("doc_id").as("src"),
        ((col("doc_id") * 5 + 3) % col("__n")).as("dst"))
      val trace = PageRank.fixedPointTrace(e1, "src", "dst",
        docs, "doc_id", iterations = 3)
      PageRank.incrementalFixedPoint(e1, trace, e2, "src", "dst", iterations = 3)
        .filter(col("iter") === 3)
        .select(col("id").as("doc_id"), col("pr"))
        .orderBy(col("doc_id"))
    }),

    // DAILY-OPS COMPOSITION — the q187 idea applied to operations: ONE
    // chained run driving DQ gate → dedup gate → ANN gate →
    // consolidateBatches → deleteRowsAll → DP release over the same
    // corpus, with the final released aggregates oracle-checked against a
    // straight-line batch replay. Determinism choices that make the chain
    // replayable: batches are single-file group partitions (doc_id % 4);
    // dedup BLOCKS on that group, so duplicate resolution is always
    // within one batch (keep-min) and batch ORDER cannot matter; twins are
    // planted in their original's group; jaccard 0.999 on <1000-token sets
    // means exact token-set equality. In-query `require`s pin the legs the
    // oracle cannot see (consolidation folded, ANN index equals the
    // never-contained build, quarantine non-empty).
    "q209_daily_ops" -> ((s, d) => {
      import graft.catalog.{Compaction, Retention}
      import graft.streaming.{BatchCommitLog, StreamingOps}
      val db = s"graftops${math.abs(d.hashCode)}"
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      Seq("cleansed", "quarantine", "corpus", "report", "annidx")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $db.$t"))
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      val ingest = docs.unionByName(
          docs.filter(pmod(col("doc_id"), lit(20)) === 0)
            .select((col("doc_id") + 40000).as("doc_id"), col("lang"),
              col("n_chars"), col("text")))
        .withColumn("grp", pmod(col("doc_id"), lit(4)).cast("int"))
      val dir1 = s"/tmp/graft_ops_docs/${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      if (!new java.io.File(s"$dir1/_SUCCESS").exists())
        ingest.repartition(4, col("grp"))
          .write.mode("overwrite").partitionBy("grp").parquet(dir1)
      val staged1 = s.read.parquet(dir1)

      // 1. streaming DQ gate: short docs quarantine (row-level rule)
      val ck1 = java.nio.file.Files.createTempDirectory("graft_ops_dq").toString
      StreamingOps.ingestDqGate(
        s.readStream.schema(staged1.schema).option("maxFilesPerTrigger", 1)
          .parquet(dir1),
        Seq("ColumnValues 'n_chars' >= 200"),
        s"$db.cleansed", s"$db.quarantine", ck1, availableNow = true)
        .awaitTermination()
      s.sql(s"REFRESH TABLE $db.cleansed"); s.sql(s"REFRESH TABLE $db.quarantine")
      require(s.table(s"$db.quarantine").count() > 0, "DQ tier must bite")

      // 2. streaming dedup gate over the cleansed corpus, blocked on grp
      val dir2 = s"/tmp/graft_ops_clean/${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      s.table(s"$db.cleansed").select("doc_id", "grp", "text")
        .repartition(4, col("grp"))
        .write.mode("overwrite").partitionBy("grp").parquet(dir2)
      val staged2 = s.read.parquet(dir2)
      val ck2 = java.nio.file.Files.createTempDirectory("graft_ops_dd").toString
      StreamingOps.ingestDedupGate(
        s.readStream.schema(staged2.schema).option("maxFilesPerTrigger", 1)
          .parquet(dir2),
        "text", "doc_id", Seq("grp"), threshold = 0.999,
        s"$db.corpus", s"$db.report", ck2, availableNow = true)
        .awaitTermination()
      s.sql(s"REFRESH TABLE $db.corpus")

      // 3. streaming ANN gate over the embeddings (q191 fixed model)
      val dir3 = s"/tmp/graft_stream_emb/${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      if (!new java.io.File(s"$dir3/_SUCCESS").exists())
        Tables(s, d, "embeddings").repartition(4)
          .write.mode("overwrite").parquet(dir3)
      val staged3 = s.read.parquet(dir3)
      val centroids =
        graft.functions.expressions.HashExpressions.fixedCentroids(100, 16, 64)
      val fc = graft.functions.expressions.HashExpressions.fixedCentroids(200, 128, 8)
      val codebooks = Array.tabulate(8)(j => fc.slice(j * 16, j * 16 + 16))
      val ck3 = java.nio.file.Files.createTempDirectory("graft_ops_ann").toString
      StreamingOps.ingestAnnGate(
        s.readStream.schema(staged3.schema).option("maxFilesPerTrigger", 1)
          .parquet(dir3),
        "embedding", "vec_id", centroids, codebooks, s"$db.annidx", ck3,
        availableNow = true).awaitTermination()
      s.sql(s"REFRESH TABLE $db.annidx")

      // 4. maintenance: fold committed batch history on both state tables
      val wm2 = BatchCommitLog.committed(s, ck2).get
      val wm3 = BatchCommitLog.committed(s, ck3).get
      require(Compaction.consolidateBatches(s, s"$db.corpus", wm2, Seq("doc_id")) >= 1,
        "corpus consolidation must fold history")
      require(Compaction.consolidateBatches(s, s"$db.annidx", wm3, Seq("vec_id")) >= 1,
        "index consolidation must fold history")

      // 5. right-to-be-forgotten across corpus, report, and ANN index
      val docKeys = s.table(s"$db.corpus")
        .filter(pmod(col("doc_id"), lit(13)) === 0).select(col("doc_id")).distinct()
      Retention.deleteRowsAll(s, docKeys, Seq(
        Retention.DeleteTarget(s"$db.corpus", "doc_id"),
        Retention.DeleteTarget(s"$db.report", "doc_id")))
      val vecKeys = Tables(s, d, "embeddings")
        .filter(pmod(col("vec_id"), lit(13)) === 0).select(col("vec_id")).distinct()
      Retention.deleteRowsAll(s, vecKeys,
        Seq(Retention.DeleteTarget(s"$db.annidx", "vec_id")))

      // 6. the ANN leg's never-contained equality, asserted in-chain
      val survivorIdx = Ann.ivfPqIndex(
        Tables(s, d, "embeddings").filter(pmod(col("vec_id"), lit(13)) =!= 0),
        "embedding", "vec_id", centroids, codebooks)
      val storedIdx = s.table(s"$db.annidx").select("vec_id", "__list", "code")
      require(storedIdx.exceptAll(survivorIdx).isEmpty &&
        survivorIdx.exceptAll(storedIdx).isEmpty,
        "post-delete ANN index must equal the never-contained build")

      // 7. DP release over the final corpus (lang joined back from ingest —
      // identical texts can carry different langs, so lang is not a block)
      graft.operators.Privacy.dpCounts(
          s.table(s"$db.corpus")
            .join(ingest.select(col("doc_id"), col("lang")), Seq("doc_id")),
          Seq("lang"), epsilon = 0.5, seed = "ops1")
        .orderBy(col("lang"))
    }),

    // Incremental sync-LPA (GraphOps.incrementalLabelPropagation): the
    // q194 synthetic graph split into a stored half (the 2i+1 edge family,
    // traced with labelPropagationTrace) and a batch half (the 5i+3
    // family) merged incrementally — the final labels must equal the
    // from-scratch 3-round replay over the UNION graph, which is exactly
    // q194's oracle. Frontier-exact by construction; the batch-local cost
    // story is ScaleCheck section `lpa_incremental`.
    "q208_incremental_lpa" -> ((s, d) => {
      import graft.operators.GraphOps
      val docs = Tables(s, d, "documents").select(col("doc_id"))
      val nn = docs.agg((max(col("doc_id")) + 1).as("__n"))
      val base = docs.crossJoin(broadcast(nn))
      val e1 = base.select(col("doc_id").as("src"),
        ((col("doc_id") * 2 + 1) % col("__n")).as("dst"))
      val e2 = base.select(col("doc_id").as("src"),
        ((col("doc_id") * 5 + 3) % col("__n")).as("dst"))
      val trace = GraphOps.labelPropagationTrace(e1, "src", "dst",
        docs, "doc_id", iters = 3)
      GraphOps.incrementalLabelPropagation(e1, trace, e2, "src", "dst", iters = 3)
        .filter(col("iter") === 3)
        .select(col("id").as("doc_id"), col("label"))
        .orderBy(col("doc_id"))
    }),

    // Forget-propagation, sparse leg (Retention.deleteRowsAll over a
    // persisted BM25 index): postings + lengths built as two batch
    // partitions, every doc_id % 9 == 0 deleted from BOTH tables, then the
    // q170 search — which derives df/N/avgdl from the surviving rows at
    // query time — must equal an index built over a corpus that NEVER
    // contained those docs (the oracle: the same scoring replay with the
    // surviving-doc predicate). Row-wise postings make deletion exact.
    "q205_forget_bm25" -> ((s, d) => {
      import graft.catalog.Retention
      import graft.operators.Retrieval
      val db = s"graftfg${math.abs(d.hashCode)}"
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      s.sql(s"DROP TABLE IF EXISTS $db.postings")
      s.sql(s"DROP TABLE IF EXISTS $db.lens")
      val docs = Tables(s, d, "documents")
      Seq(0, 1).foreach { b =>
        val (p, l) = Retrieval.bm25Index(
          docs.filter(pmod(col("doc_id"), lit(2)) === b), "text", "doc_id")
        val m = if (b == 0) "overwrite" else "append"
        p.withColumn("batch_id", lit(b.toLong))
          .write.mode(m).partitionBy("batch_id").saveAsTable(s"$db.postings")
        l.withColumn("batch_id", lit(b.toLong))
          .write.mode(m).partitionBy("batch_id").saveAsTable(s"$db.lens")
      }
      val doomed = docs.filter(pmod(col("doc_id"), lit(9)) === 0)
        .select(col("doc_id"))
      Retention.deleteRowsAll(s, doomed, Seq(
        Retention.DeleteTarget(s"$db.postings", "doc_id"),
        Retention.DeleteTarget(s"$db.lens", "doc_id")))
      Retrieval.bm25Search(s.table(s"$db.postings").drop("batch_id"),
          s.table(s"$db.lens").drop("batch_id"), "doc_id", Bm25Queries, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Forget-propagation, dense leg (Retention.deleteRowsAll over the
    // persisted IVF-PQ code table): codes built in two batch partitions
    // under the fixed q103 model, vec_id % 9 == 0 deleted, then the search
    // over the surviving codes must equal the never-contained replay
    // (candidates restricted to survivors; encode is row-wise so no other
    // row changes). Queries still run — they come from the raw vectors.
    "q206_forget_ann" -> ((s, d) => {
      import graft.catalog.Retention
      val db = s"graftfa${math.abs(d.hashCode)}"
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      s.sql(s"DROP TABLE IF EXISTS $db.codes")
      val emb = Tables(s, d, "embeddings")
      val centroids =
        graft.functions.expressions.HashExpressions.fixedCentroids(100, 16, 64)
      val fc = graft.functions.expressions.HashExpressions.fixedCentroids(200, 128, 8)
      val codebooks = Array.tabulate(8)(j => fc.slice(j * 16, j * 16 + 16))
      Seq(0, 1).foreach { b =>
        Ann.ivfPqIndex(emb.filter(pmod(col("vec_id"), lit(2)) === b),
            "embedding", "vec_id", centroids, codebooks)
          .withColumn("batch_id", lit(b.toLong))
          .write.mode(if (b == 0) "overwrite" else "append")
          .partitionBy("batch_id").saveAsTable(s"$db.codes")
      }
      val doomed = emb.filter(pmod(col("vec_id"), lit(9)) === 0)
        .select(col("vec_id"))
      Retention.deleteRowsAll(s, doomed,
        Seq(Retention.DeleteTarget(s"$db.codes", "vec_id")))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Ann.ivfPqSearch(
          s.table(s"$db.codes").select(col("vec_id"), col("__list"), col("code")),
          queries, "embedding", "vec_id", "query_id", centroids, codebooks,
          k = 10, nprobe = 4)
        .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc_r"),
          col("rank").cast(LongType).as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "q193_calibration_bins" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val st = docs.agg(sum(col("n_chars")).as("__sx"),
        sum(col("n_chars") * col("n_chars")).as("__sxx"),
        count(lit(1)).as("__n"))
      val scored = docs.crossJoin(broadcast(st))
        .withColumn("__mu", col("__sx").cast("double") / col("__n"))
        .withColumn("__sg", sqrt(col("__sxx").cast("double") / col("__n")
          - col("__mu") * col("__mu")))
        .withColumn("score",
          lit(1.0) / (lit(1.0) + exp((col("__mu") - col("n_chars")) / col("__sg"))))
        .withColumn("label", (col("lang") === "en").cast("int"))
      graft.operators.Analytics.calibrationBins(scored, "score", "label", bins = 10)
        .orderBy(col("bin"))
    }),
  )

  /** q105's fixed query set — shared between the Spark side and the oracle
    * VALUES list so the two can never drift. */
  val Bm25Queries: Seq[(String, String)] = Seq(
    "qa" -> "spark join merge",
    "qb" -> "customer order value",
    "qc" -> "window agg batch",
    "qd" -> "slow table scan")

  /** q125's fixed query→anchor-embedding assignment (vec_id ≡ doc_id in the
    * testdata) — shared between the Spark side and the oracle VALUES list. */
  val RrfAnchors: Seq[(String, Long)] =
    Seq("qa" -> 7L, "qb" -> 110L, "qc" -> 233L, "qd" -> 401L)

  private val langIdOracle: String = {
    val scoreExprs = T.LangStopwords.map { case (lang, words) =>
      val sum = words.map(w => s"len(regexp_extract_all(lower(text), '\\b${w}\\b'))").mkString(" + ")
      s"($sum) AS s_$lang"
    }.mkString(",\n               ")
    val langs = T.LangStopwords.map(_._1)
    val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val cases = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString("\n               ")
    s"""
      SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred
      FROM (SELECT doc_id, ${langs.map("s_" + _).mkString(", ")}, $best AS best FROM (
              SELECT doc_id, text,
               $scoreExprs
              FROM documents))
      ORDER BY doc_id"""
  }

  /** q101 oracle: the PQ pipeline replayed in DuckDB. Centroid weights come
    * from the same LCG CTE as q41; subspace squared-L2 goes through
    * `list_dot_product(diff, diff)` (sequential accumulation — bit-identical
    * to the Spark side's fused dot product); the ADC sum is spelled out as
    * m explicit left-associated terms so the addition ORDER matches too. */
  private val pqAdcTerms: String = (0 until 8).map(j =>
    s"q.tab[${j * 16} + cd.code[${j + 1}] + 1]").mkString(" + ")

  /** Shared CTE prefix for the PQ oracles: LCG codebooks → per-(vector,
    * subspace, centroid) squared-L2 → codes (argmin, lowest index on ties) →
    * per-query ADC tables → ADC-ranked candidates. `qPred` selects which
    * embedding rows act as queries (q101-q103: the first five; q161: the RRF
    * anchor vectors). */
  private def pqCtesFor(qPred: String): String = s"""
      WITH cc AS (
        SELECT p - 200 AS jc, d,
          CAST(
            ((( (p*1000003 + d*7919 + 12345)::HUGEINT * 6364136223846793005 + 1442695040888963407)
               % 18446744073709551616::HUGEINT)
              * 6364136223846793005 + 1442695040888963407) % 18446744073709551616::HUGEINT
            // 2048 AS DOUBLE) / 4503599627370496.0 * 2.0 - 1.0 AS w
        FROM range(200,328) t1(p), range(0,8) t2(d)),
      cents AS (
        SELECT jc // 16 AS j, jc % 16 AS c, list(w ORDER BY d) AS cv
        FROM cc GROUP BY 1, 2),
      dists AS (
        SELECT e.vec_id, ct.j, ct.c,
          list_dot_product(
            list_transform(range(1, 9), i -> e.embedding[ct.j*8 + i]::DOUBLE - ct.cv[i]),
            list_transform(range(1, 9), i -> e.embedding[ct.j*8 + i]::DOUBLE - ct.cv[i])) AS d2
        FROM embeddings e CROSS JOIN cents ct),
      codes AS (
        SELECT vec_id, list(c ORDER BY j) AS code FROM (
          SELECT vec_id, j, c,
                 row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
          FROM dists) WHERE rn = 1 GROUP BY vec_id),
      qtab AS (
        SELECT vec_id AS query_id, list(d2 ORDER BY j, c) AS tab
        FROM dists WHERE $qPred GROUP BY vec_id),
      scored AS (
        SELECT q.query_id, cd.vec_id, $pqAdcTerms AS adc
        FROM qtab q CROSS JOIN codes cd),
      ranked AS (
        SELECT query_id, vec_id, adc,
               row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rank
        FROM scored)"""

  private val pqCtes: String = pqCtesFor("vec_id < 5")

  private val pqOracle: String = s"""$pqCtes
      SELECT query_id, vec_id, round(adc, 6) AS adc_r, CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""

  /** q102 oracle: ADC shortlist (rank ≤ 50 from the shared CTEs) joined back
    * to the raw vectors for the exact-cosine rerank — same cosine formula as
    * the q41 oracle. */
  private val pqRerankOracle: String = s"""$pqCtes,
      shortlist AS (
        SELECT query_id, vec_id FROM ranked WHERE rank <= 50),
      rescored AS (
        SELECT s.query_id, s.vec_id,
               list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS cosine
        FROM shortlist s
        JOIN embeddings q ON s.query_id = q.vec_id
        JOIN embeddings e ON s.vec_id = e.vec_id),
      reranked AS (
        SELECT query_id, vec_id, cosine,
               row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        FROM rescored)
      SELECT query_id, vec_id, round(cosine, 6) AS cosine_r, CAST(rank AS BIGINT) AS rank
      FROM reranked WHERE rank <= 10 ORDER BY query_id, rank"""

  /** q103 oracle: full IVF-PQ — the q41 inverted-file CTEs (LCG centroids
    * 100..115, max-dot assignment, nprobe probing) composed with the q101 PQ
    * CTEs (LCG codebooks 200..327, argmin codes, per-query ADC tables);
    * candidates = probed lists only, ranked by the same left-assoc ADC sum. */
  private def ivfChainFor(qPred: String, docPred: String = "TRUE"): String = s"""
      icc AS (
        SELECT p - 100 AS ci, d,
          CAST(
            ((( (p*1000003 + d*7919 + 12345)::HUGEINT * 6364136223846793005 + 1442695040888963407)
               % 18446744073709551616::HUGEINT)
              * 6364136223846793005 + 1442695040888963407) % 18446744073709551616::HUGEINT
            // 2048 AS DOUBLE) / 4503599627370496.0 * 2.0 - 1.0 AS w
        FROM range(100,116) t1(p), range(0,64) t2(d)),
      icents AS (SELECT ci, list(w ORDER BY d) AS cv FROM icc GROUP BY ci),
      idot AS (
        SELECT e.vec_id, c.ci, list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv) AS s
        FROM embeddings e CROSS JOIN icents c),
      iassigned AS (
        SELECT vec_id, ci AS lst FROM (
          SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn FROM idot)
        WHERE rn = 1 AND ($docPred)),
      iqprobes AS (
        SELECT vec_id AS query_id, ci AS lst FROM (
          SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn
          FROM idot WHERE $qPred)
        WHERE rn <= 4),
      pqscored AS (
        SELECT q.query_id, cd.vec_id, $pqAdcTerms AS adc
        FROM iqprobes p
        JOIN iassigned a ON p.lst = a.lst
        JOIN qtab q ON q.query_id = p.query_id
        JOIN codes cd ON cd.vec_id = a.vec_id),
      pqranked AS (
        SELECT query_id, vec_id, adc,
               row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rank
        FROM pqscored)"""

  private val ivfPqOracle: String = s"""$pqCtes,${ivfChainFor("vec_id < 5")}
      SELECT query_id, vec_id, round(adc, 6) AS adc_r, CAST(rank AS BIGINT) AS rank
      FROM pqranked WHERE rank <= 10 ORDER BY query_id, rank"""

  // q206: the never-contained IVF-PQ replay — candidate rows (iassigned)
  // restricted to surviving ids; queries still run (they come from the raw
  // vectors, not the index), and a deleted query's own code row is simply
  // never a candidate.
  private val ivfPqForgetOracle: String =
    s"""$pqCtes,${ivfChainFor("vec_id < 5", "vec_id % 9 <> 0")}
      SELECT query_id, vec_id, round(adc, 6) AS adc_r, CAST(rank AS BIGINT) AS rank
      FROM pqranked WHERE rank <= 10 ORDER BY query_id, rank"""

  /** q172 oracle: SemDeDup over the index — inverted-list pairs, the
    * flattened subspace centroid-distance table (same sequential diff-dot
    * arithmetic as the ADC tables), the UNROLLED left-associated 8-term SDC
    * sum matching the Spark reduce, then the q90-style exact-cosine verify
    * on SDC survivors. */
  private val sdcTerms: String = (0 until 8).map(j =>
    s"f[${j * 256} + x.code[${j + 1}]*16 + y.code[${j + 1}] + 1]").mkString(" + ")

  private val semdedupIndexOracle: String = s"""$pqCtes,${ivfChainFor("vec_id < 5")},
      sdcd AS (
        SELECT a.j, a.c AS ca, b.c AS cb,
          list_dot_product(
            list_transform(range(1, 9), i -> a.cv[i] - b.cv[i]),
            list_transform(range(1, 9), i -> a.cv[i] - b.cv[i])) AS d2
        FROM cents a JOIN cents b ON a.j = b.j),
      d2flat AS (SELECT list(d2 ORDER BY j, ca, cb) AS f FROM sdcd),
      prs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM iassigned a JOIN iassigned b ON a.lst = b.lst AND a.vec_id < b.vec_id),
      sdcv AS (
        SELECT p.id_a, p.id_b, $sdcTerms AS s
        FROM prs p JOIN codes x ON x.vec_id = p.id_a
        JOIN codes y ON y.vec_id = p.id_b CROSS JOIN d2flat),
      cosv AS (
        SELECT k.id_a, k.id_b,
          list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
            / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
               * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cosine
        FROM (SELECT id_a, id_b FROM sdcv WHERE s <= 80.0) k
        JOIN embeddings a ON a.vec_id = k.id_a
        JOIN embeddings b ON b.vec_id = k.id_b)
      SELECT id_a, id_b, round(cosine, 6) AS cosine_r
      FROM cosv WHERE cosine >= 0.2 ORDER BY id_a, id_b"""

  /** q161 oracle: the q125 sparse BM25 chain fused with the REAL bucketed
    * dense leg — the q103 IVF-PQ chain with the anchor vectors as queries
    * (qPred selects them; the anchors VALUES list relabels vec ids to query
    * ids) — through the same rounded RRF arithmetic. This is the fusion a
    * 100 TB corpus actually runs: the dense leg scans codes in probed
    * lists, never raw vectors. */
  private val hybridIvfPqOracle: String = {
    val anchorPred = "vec_id IN (7, 110, 233, 401)"
    s"""${pqCtesFor(anchorPred)},${ivfChainFor(anchorPred)},
      q(query_id, qtext) AS (VALUES
        ('qa','spark join merge'), ('qb','customer order value'),
        ('qc','window agg batch'), ('qd','slow table scan')),
      qt AS (SELECT DISTINCT query_id, unnest(regexp_split_to_array(lower(trim(qtext)), '\\s+')) AS token FROM q),
      lens AS (SELECT doc_id, CASE WHEN regexp_replace(text, '^\\s+|\\s+$$', '', 'g') = '' THEN 0
        ELSE len(regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+')) END AS dl FROM documents),
      stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lens),
      terms AS (SELECT doc_id, unnest(regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+')) AS token
        FROM documents WHERE regexp_replace(text, '^\\s+|\\s+$$', '', 'g') <> ''),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM terms WHERE token IN (SELECT token FROM qt) GROUP BY 1, 2),
      dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      contrib AS (SELECT qt.query_id, tf.doc_id,
        ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS c
        FROM qt JOIN tf USING (token) JOIN dfq USING (token) JOIN lens USING (doc_id) CROSS JOIN stats),
      sscored AS (SELECT query_id, doc_id, round(sum(c), 6) AS score_r FROM contrib GROUP BY 1, 2),
      sparse AS (SELECT query_id, doc_id, rn FROM (
        SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY score_r DESC, doc_id) AS rn
        FROM sscored) WHERE rn <= 20),
      anchors(aqid, vid) AS (VALUES ('qa', 7), ('qb', 110), ('qc', 233), ('qd', 401)),
      dense AS (SELECT a.aqid AS query_id, p.vec_id AS doc_id, p.rank AS rn
        FROM pqranked p JOIN anchors a ON p.query_id = a.vid WHERE p.rank <= 20),
      u AS (SELECT query_id, doc_id, rn FROM sparse UNION ALL SELECT query_id, doc_id, rn FROM dense),
      f AS (SELECT query_id, doc_id, round(sum(CAST(1 AS DOUBLE) / (60 + rn)), 9) AS rrf_r FROM u GROUP BY 1, 2),
      r AS (SELECT query_id, doc_id, rrf_r,
        CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_r DESC, doc_id) AS BIGINT) AS "rank" FROM f)
      SELECT query_id, doc_id, rrf_r, "rank" FROM r WHERE "rank" <= 10 ORDER BY query_id, "rank""""
  }

  val oracles: Map[String, String] = Map(
    // NFC replay: the oracle emits the COMPOSED forms the normalizer must
    // produce from the injected combining sequences (composed literals here,
    // decomposed in the Spark-side injection — the pair can't false-pass)
    "q111_nfc_normalize" -> """
      SELECT doc_id,
             regexp_replace(text, '[^\x20-\x7E]', '', 'g') ||
             CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN ' café résumé'
               WHEN 1 THEN ' über Ångström'
               WHEN 2 THEN ' pre-composed é stays'
               ELSE '' END AS normalized
      FROM documents ORDER BY doc_id""",
    // PageRank replay: same synthetic graph, 3 unrolled iterations of the
    // same fixed-point arithmetic (integer floor divisions — bit-exact).
    // SHARED with q213: the incremental pass over (stored 2i+1 half +
    // batch 5i+3 half) must equal this from-scratch union replay exactly.
    "q119_pagerank" -> pagerankUnionOracleSql,
    "q213_incremental_pagerank" -> pagerankUnionOracleSql,
    // Temperature-mixture replay: integer group sums, the sqrt closed form,
    // the same salted md5 bucket cutoff
    "q123_temperature_mixture" -> """
      WITH tg AS (
        SELECT lang, CAST(sum(n_chars) AS BIGINT) AS tg
        FROM documents GROUP BY lang HAVING sum(n_chars) > 0),
      r AS (SELECT lang, tg, min(tg) OVER () AS mn FROM tg),
      rates AS (SELECT lang,
                  sqrt(CAST(mn AS DOUBLE) / CAST(tg AS DOUBLE)) AS rate
                FROM r)
      SELECT d.doc_id, d.lang, round(rate, 6) AS rate_r
      FROM documents d JOIN rates USING (lang)
      WHERE CAST(COALESCE(CAST(('0x' || substr(md5(d.lang || '|' || CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INTEGER), 0) AS DOUBLE) < rate * 65536.0
      ORDER BY d.doc_id""",
    // Top-k replay: the window formulation the aggregate replaces
    "q122_topk_tokens" -> """
      WITH toks AS (
        SELECT lang, unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS tok
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      c AS (SELECT lang, tok, count(*) AS cnt FROM toks GROUP BY lang, tok),
      r AS (SELECT lang, tok, cnt,
              row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rank
            FROM c)
      SELECT lang, CAST(rank AS BIGINT) AS rank, tok, cnt
      FROM r WHERE rank <= 5 ORDER BY lang, rank""",
    // Term-mask replay: same injection; chained replace() == AC selection
    // because the dict terms share no substrings/overlaps; counts are
    // per-term occurrence sums for the same reason
    "q120_term_mask" -> """
      WITH docs AS (
        SELECT doc_id, text || CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN ' confidential'
          WHEN 1 THEN ' internal use only stays internal use only'
          WHEN 2 THEN ' do not distribute confidential'
          ELSE '' END AS doc
        FROM documents)
      SELECT doc_id,
        replace(replace(replace(doc,
          'confidential', '[REDACTED]'),
          'internal use only', '[REDACTED]'),
          'do not distribute', '[REDACTED]') AS masked,
        len(regexp_extract_all(doc, 'confidential')) +
        len(regexp_extract_all(doc, 'internal use only')) +
        len(regexp_extract_all(doc, 'do not distribute')) AS n_masked
      FROM docs ORDER BY doc_id""",
    // Histogram-quantile replay: same buckets, same cumulative counts, same
    // integer cross-multiplied thresholds
    "q121_histogram_quantiles" -> """
      WITH b AS (SELECT lang, LEAST(n_chars // 16, 63) AS bk FROM documents),
      c AS (SELECT lang, bk, count(*) AS c FROM b GROUP BY lang, bk),
      cum AS (SELECT lang, bk, c,
               sum(c) OVER (PARTITION BY lang ORDER BY bk) AS cum,
               sum(c) OVER (PARTITION BY lang) AS n
              FROM c)
      SELECT lang, CAST(max(n) AS BIGINT) AS n,
        CAST(min(CASE WHEN cum * 2 >= n * 1 THEN bk END) * 16 AS BIGINT) AS p50_lo,
        CAST(min(CASE WHEN cum * 10 >= n * 9 THEN bk END) * 16 AS BIGINT) AS p90_lo,
        CAST(min(CASE WHEN cum * 100 >= n * 99 THEN bk END) * 16 AS BIGINT) AS p99_lo
      FROM cum GROUP BY lang ORDER BY lang""",
    // KMV replay: bottom-k of the distinct md5-60bit hashes per lang via
    // row_number; same (k-1)*2^60/h_k estimator arithmetic
    "q117_kmv_distinct" -> """
      WITH toks AS (
        SELECT lang, unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS tok
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      h AS (SELECT DISTINCT lang, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
      r AS (SELECT lang, h,
              row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
              count(*) OVER (PARTITION BY lang) AS nd
            FROM h),
      g AS (SELECT lang, min(nd) AS nd,
              max(CASE WHEN rn = 16 THEN h END) AS kth16,
              max(CASE WHEN rn = 64 THEN h END) AS kth64
            FROM r GROUP BY lang)
      SELECT lang,
        LEAST(nd, 16) AS n16,
        kth16,
        CASE WHEN nd < 16 THEN CAST(nd AS DOUBLE)
             ELSE round(15.0 * 1152921504606846976.0 / CAST(kth16 AS DOUBLE), 6)
             END AS est16_r,
        LEAST(nd, 64) AS n64,
        CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
             ELSE round(63.0 * 1152921504606846976.0 / CAST(kth64 AS DOUBLE), 6)
             END AS est64_r
      FROM g ORDER BY lang""",
    // CMS replay: (row, bucket) occurrence counts per lang, probe buckets
    // from the same salted md5, min over rows; truth from a plain GROUP BY
    "q118_cms_freq" -> """
      WITH toks AS (
        SELECT lang, unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS tok
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      probes AS (SELECT unnest(['the', 'table', 'value', 'spark', 'zebra']) AS ptok),
      rows_ AS (SELECT unnest(range(0, 4)) AS i),
      counts AS (
        SELECT lang, i,
          CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || tok), 1, 15)) AS BIGINT) % 64 AS bucket,
          count(*) AS c
        FROM toks, rows_ GROUP BY lang, i, bucket),
      langs AS (SELECT DISTINCT lang FROM toks),
      pb AS (
        SELECT l.lang, p.ptok, r.i,
          CAST(('0x' || substr(md5(CAST(r.i AS VARCHAR) || '|' || p.ptok), 1, 15)) AS BIGINT) % 64 AS bucket
        FROM langs l, probes p, rows_ r),
      est AS (
        SELECT pb.lang, pb.ptok, min(COALESCE(c.c, 0)) AS est
        FROM pb LEFT JOIN counts c
          ON c.lang = pb.lang AND c.i = pb.i AND c.bucket = pb.bucket
        GROUP BY pb.lang, pb.ptok),
      truth AS (SELECT lang, tok AS ptok, count(*) AS n_true FROM toks GROUP BY lang, tok)
      SELECT e.lang, e.ptok, e.est, COALESCE(t.n_true, 0) AS n_true
      FROM est e LEFT JOIN truth t ON t.lang = e.lang AND t.ptok = e.ptok
      ORDER BY e.lang, e.ptok""",
    // PII replay: rebuild the deterministic injection, then the same
    // email→ssn→phone→ip replace order and the same audit counts
    "q112_pii_ipv4" -> """
      WITH parts AS (
        SELECT doc_id, text,
          ' mail bob' || CAST(doc_id AS VARCHAR) || '@mail' ||
            CAST(doc_id % 5 AS VARCHAR) || '.example.com' AS em,
          ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS ph,
          ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
            CAST((doc_id * 7) % 256 AS VARCHAR) || '.' ||
            CAST(doc_id % 100 AS VARCHAR) AS ip
        FROM documents),
      docs AS (
        SELECT doc_id, text || CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN em || ph || ip
          WHEN 1 THEN em
          WHEN 2 THEN ph || ' and' || ip
          ELSE '' END AS doc
        FROM parts)
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(doc,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
          '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS scrubbed,
        len(regexp_extract_all(doc, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        len(regexp_extract_all(doc, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phone,
        len(regexp_extract_all(doc, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip
      FROM docs ORDER BY doc_id""",
    // HTML replay: same strip → entity chain (&amp; last) → whitespace
    // collapse → trim order as stripHtml
    "q113_html_extract" -> """
      WITH docs AS (
        SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN '<html><p id="p' || CAST(doc_id AS VARCHAR) || '">' ||
                      text || '</p>  <b>bold</b></html>'
          WHEN 1 THEN '<div>' || text || '</div> &amp;lt; &quot;q&quot; &#39;a&#39; &nbsp;x'
          WHEN 2 THEN text || ' &lt;script&gt; not a tag &amp; done'
          ELSE text END AS doc
        FROM documents)
      SELECT doc_id,
        regexp_replace(regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(doc, '<[^>]+>', '', 'g'),
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
            '&nbsp;', ' '), '&amp;', '&'),
          '\s{2,}', ' ', 'g'), '^\s+|\s+$', '', 'g') AS extracted,
        len(regexp_extract_all(doc, '<[^>]+>')) AS n_tags
      FROM docs ORDER BY doc_id""",
    // Gopher replay: same injection, same counts, same integer
    // cross-multiplied thresholds
    "q114_gopher_rules" -> """
      WITH docs AS (
        SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN text || chr(10) || '- bullet one' || chr(10) ||
                      '- bullet two' || chr(10) || 'plain line' || chr(10) ||
                      'wrapping up...'
          WHEN 1 THEN substring(text, 1, 17)
          WHEN 2 THEN text || ' ##### ##### #####'
          ELSE text END AS doc
        FROM documents),
      m AS (
        SELECT doc_id,
          len(regexp_extract_all(doc, '\S+')) AS n_words,
          len(regexp_extract_all(doc, '\S*[A-Za-z]\S*')) AS n_alpha_words,
          length(regexp_replace(doc, '\s', '', 'g')) AS non_ws,
          len(regexp_extract_all(doc, '#')) AS n_hash,
          len(string_split(doc, chr(10))) AS n_lines,
          len(list_filter(string_split(doc, chr(10)),
            x -> x LIKE '- %' OR x LIKE '* %')) AS n_bullet_lines,
          len(list_filter(string_split(doc, chr(10)),
            x -> x LIKE '%...')) AS n_ellipsis_lines,
          regexp_matches(doc, '\bthe\b|\band\b|\bof\b') AS has_stopword
        FROM docs)
      SELECT doc_id, n_words, n_lines, n_bullet_lines, n_ellipsis_lines,
        n_alpha_words,
        (n_words BETWEEN 5 AND 100000) AS ok_word_count,
        (3 * n_words <= non_ws AND non_ws <= 10 * n_words) AS ok_mean_word_len,
        (10 * n_hash <= n_words) AS ok_symbol_ratio,
        (10 * n_bullet_lines <= 9 * n_lines) AS ok_bullet_ratio,
        (10 * n_ellipsis_lines <= 3 * n_lines) AS ok_ellipsis_ratio,
        (5 * n_alpha_words >= 4 * n_words) AS ok_alpha_ratio,
        has_stopword,
        ((n_words BETWEEN 5 AND 100000)
          AND (3 * n_words <= non_ws AND non_ws <= 10 * n_words)
          AND (10 * n_hash <= n_words)
          AND (10 * n_bullet_lines <= 9 * n_lines)
          AND (10 * n_ellipsis_lines <= 3 * n_lines)
          AND (5 * n_alpha_words >= 4 * n_words)
          AND has_stopword) AS pass
      FROM m ORDER BY doc_id""",
    // URL replay: same anchored split, same normalize steps, same reassembly
    "q115_url_canonical" -> """
      WITH urls AS (
        SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN 'https://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) ||
                      '.Example.COM/Path/' || CAST(doc_id AS VARCHAR) ||
                      '/?utm_source=feed&utm_medium=x&id=' ||
                      CAST(doc_id AS VARCHAR) || '#frag'
          WHEN 1 THEN 'http://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/a/b'
          WHEN 2 THEN 'HTTPS://site' || CAST(doc_id % 7 AS VARCHAR) || '.EXAMPLE.com/?utm_campaign=z'
          ELSE 'https://www.site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
          END AS url
        FROM documents),
      parts AS (
        SELECT doc_id,
          lower(regexp_extract(url, '^((?i:https?))://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 1)) AS scheme,
          regexp_replace(lower(regexp_extract(url, '^((?i:https?))://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 2)), '^www\.', '') AS domain,
          regexp_replace(regexp_extract(url, '^((?i:https?))://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 3), '/+$', '') AS path,
          regexp_replace(regexp_replace(
            regexp_extract(url, '^((?i:https?))://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 4),
            'utm_[A-Za-z]+=[^&#]*(&|$)', '', 'g'), '[?&]+$', '') AS query
        FROM urls)
      SELECT doc_id,
        CASE WHEN scheme = '' THEN ''
             ELSE scheme || '://' || domain || path || query END AS url_canonical,
        domain
      FROM parts ORDER BY doc_id""",
    "q116_domain_stats" -> """
      WITH urls AS (
        SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN 'https://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) ||
                      '.Example.COM/Path/' || CAST(doc_id AS VARCHAR) ||
                      '/?utm_source=feed&utm_medium=x&id=' ||
                      CAST(doc_id AS VARCHAR) || '#frag'
          WHEN 1 THEN 'http://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/a/b'
          WHEN 2 THEN 'HTTPS://site' || CAST(doc_id % 7 AS VARCHAR) || '.EXAMPLE.com/?utm_campaign=z'
          ELSE 'https://www.site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
          END AS url
        FROM documents),
      parts AS (
        SELECT doc_id,
          lower(regexp_extract(url, '^((?i:https?))://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 1)) AS scheme,
          regexp_replace(lower(regexp_extract(url, '^((?i:https?))://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 2)), '^www\.', '') AS domain,
          regexp_replace(regexp_extract(url, '^((?i:https?))://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 3), '/+$', '') AS path,
          regexp_replace(regexp_replace(
            regexp_extract(url, '^((?i:https?))://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 4),
            'utm_[A-Za-z]+=[^&#]*(&|$)', '', 'g'), '[?&]+$', '') AS query
        FROM urls)
      SELECT domain, COUNT(*) AS n_docs,
        COUNT(DISTINCT CASE WHEN scheme = '' THEN ''
          ELSE scheme || '://' || domain || path || query END) AS n_unique
      FROM parts GROUP BY domain ORDER BY domain""",
    "q104_fix_mojibake" -> """
      SELECT doc_id,
             regexp_replace(text, '[^\x20-\x7E]', '', 'g') ||
             CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN ' café résumé'
               WHEN 1 THEN ' naïve Ünterläge'
               WHEN 2 THEN ' ‘quoted’ – dash…'
               ELSE '' END AS fixed
      FROM documents ORDER BY doc_id""",
    "q101_ann_pq" -> pqOracle,
    "q102_ann_pq_rerank" -> pqRerankOracle,
    "q103_ann_ivfpq" -> ivfPqOracle,
    // build(A) ∪ append(B) under one model ≡ encode(A∪B): the oracle is the
    // from-scratch IVF-PQ replay — the no-drift contract for the daily path
    "q169_ivfpq_index" -> ivfPqOracle,
    "q172_semdedup_index" -> semdedupIndexOracle,
    "q161_hybrid_ivfpq" -> hybridIvfPqOracle,
    "q85_audio_decode" -> """
      WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS media_id FROM documents),
      g AS (
        SELECT media_id, w, i
        FROM ids,
             (SELECT unnest(range(0, 4)) AS w) ww,
             (SELECT unnest(range(0, 64)) AS i) ii)
      SELECT media_id,
             CAST(8000 AS BIGINT) AS sample_rate,
             CAST(w AS BIGINT) AS window_no,
             sum(((media_id * 31 + w * 64 + i) % 65536 - 32768) / 32768.0) / 64 AS window_mean
      FROM g GROUP BY media_id, w ORDER BY media_id, window_no""",
    "q84_curation_pipeline" -> """
      WITH d AS (
        SELECT doc_id, text,
               CASE WHEN doc_id % 7 = 0
                    THEN text || repeat(chr(10) || substring(text, 1, 40), 5)
                    ELSE text END AS text2
        FROM documents),
      lrep AS (
        SELECT doc_id FROM (
          SELECT doc_id, line, count(*) AS c FROM (
            SELECT doc_id, unnest(string_split(text2, chr(10))) AS line FROM d)
          GROUP BY 1, 2)
        GROUP BY doc_id
        HAVING CAST(sum(c) - count(*) AS DOUBLE) / sum(c) <= 0.3),
      tok AS (
        SELECT d.doc_id, d.text,
               CASE WHEN regexp_replace(d.text, '^\s+|\s+$', '', 'g') = '' THEN 0
                    ELSE len(regexp_split_to_array(regexp_replace(d.text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tokens
        FROM d JOIN lrep USING (doc_id)),
      filt AS (SELECT * FROM tok WHERE n_tokens BETWEEN 20 AND 2000),
      fp AS (SELECT doc_id, text, n_tokens,
                    sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
             FROM filt),
      dedup AS (
        SELECT fp.* FROM fp
        JOIN (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f) m USING (f, doc_id)),
      tokz AS (
        SELECT doc_id,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') END AS t
        FROM dedup),
      cg AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 11),
                 i -> array_to_string(t[i:i+12], ' ')))) AS g
        FROM tokz WHERE len(t) >= 13),
      btok AS (
        SELECT doc_id,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') END AS t
        FROM documents WHERE doc_id % 25 = 0),
      bg AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t[3:32]) - 11),
                 i -> array_to_string((t[3:32])[i:i+12], ' ')))) AS g
        FROM btok WHERE len(t[3:32]) >= 13),
      contaminated AS (SELECT DISTINCT c.doc_id FROM cg c JOIN bg b USING (g)),
      clean AS (
        SELECT doc_id, n_tokens FROM dedup
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CASE WHEN b < 52429 THEN 'train'
                  WHEN b < 58982 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, n_tokens,
              CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) AS b
            FROM clean)
      ORDER BY doc_id""",
    "q87_token_budget" -> """
      WITH t AS (
        SELECT doc_id,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                    ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tokens
        FROM documents),
      b AS (SELECT doc_id, n_tokens,
              COALESCE(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER), 0) AS bkt
            FROM t),
      c AS (SELECT doc_id, n_tokens,
              sum(n_tokens) OVER (ORDER BY bkt, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM b)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
      FROM c WHERE cum <= 10000 ORDER BY doc_id""",
    "q86_corpus_line_dedup" -> """
      WITH d AS (
        SELECT doc_id,
               text || chr(10) || 'STANDARD DISCLAIMER APPLIES'
                    || chr(10) || 'ref ' || substring(text, 1, 20) AS text2
        FROM documents),
      base AS (SELECT doc_id, string_split(text2, chr(10)) AS ls FROM d),
      pos AS (SELECT doc_id, i, ls[i] AS line
              FROM base, unnest(range(1, len(ls) + 1)) AS r(i)),
      keep AS (
        SELECT doc_id, i, line FROM (
          SELECT doc_id, i, line,
                 row_number() OVER (PARTITION BY line ORDER BY doc_id, i) AS rn
          FROM pos)
        WHERE rn = 1)
      SELECT b.doc_id,
             COALESCE(string_agg(k.line, chr(10) ORDER BY k.i), '') AS cleaned
      FROM base b LEFT JOIN keep k USING (doc_id)
      GROUP BY b.doc_id ORDER BY b.doc_id""",
    "q83_drop_repeated_lines" -> """
      WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN text || chr(10) || substring(text, 1, 40)
                              || chr(10) || substring(text, 1, 40)
                    ELSE text END AS text2
        FROM documents),
      base AS (SELECT doc_id, string_split(text2, chr(10)) AS ls FROM d),
      pos AS (SELECT doc_id, i, ls[i] AS line
              FROM base, unnest(range(1, len(ls) + 1)) AS r(i)),
      firsts AS (SELECT doc_id, line, min(i) AS p FROM pos GROUP BY 1, 2)
      SELECT doc_id, string_agg(line, chr(10) ORDER BY p) AS cleaned
      FROM firsts GROUP BY doc_id ORDER BY doc_id""",
    "q100_image_dedup" -> """
      WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      px AS (
        SELECT id, y, x,
               (((id // 5) * 31 + y * 8 + x) * ((id // 5) * 17 + 7) % 251
                + CASE WHEN id % 5 > 0 AND x = 2 AND y = 3
                       THEN (id % 5) * 53 ELSE 0 END) % 256 AS v
        FROM ids,
             (SELECT unnest(range(0, 8)) AS y) yy,
             (SELECT unnest(range(0, 8)) AS x) xx),
      fp AS (
        SELECT a.id,
               CAST(sum(CASE WHEN a.v < b.v
                             THEN CAST(1 AS BIGINT) << (a.y * 7 + a.x)
                             ELSE 0 END) AS BIGINT) AS fp
        FROM px a JOIN px b ON a.id = b.id AND a.y = b.y AND b.x = a.x + 1
        WHERE a.x < 7
        GROUP BY a.id)
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
      FROM fp a JOIN fp b ON a.id < b.id
      WHERE bit_count(xor(a.fp, b.fp)) <= 3
      ORDER BY id_a, id_b""",
    "q82_image_decode" -> """
      WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS media_id FROM documents),
      g AS (
        SELECT media_id, y, x
        FROM ids,
             (SELECT unnest(range(0, 8)) AS y) yy,
             (SELECT unnest(range(0, 8)) AS x) xx)
      SELECT media_id,
             CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
             CAST(y AS BIGINT) AS y,
             sum(((media_id * 31 + y * 8 + x) % 256) / 256.0) / 8 AS row_mean
      FROM g GROUP BY media_id, y ORDER BY media_id, y""",
    "q80_ngram_decontamination" -> """
      WITH tok AS (
        SELECT doc_id,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') END AS t
        FROM documents),
      cg AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 11),
                 i -> array_to_string(t[i:i+12], ' ')))) AS g
        FROM tok WHERE len(t) >= 13),
      bench AS (
        SELECT doc_id, t[3:32] AS bt FROM tok WHERE doc_id % 25 = 0),
      bg AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(bt) - 11),
                 i -> array_to_string(bt[i:i+12], ' ')))) AS g
        FROM bench WHERE len(bt) >= 13)
      SELECT c.doc_id AS id_l, b.doc_id AS id_r, count(*) AS n_shared
      FROM cg c JOIN bg b USING (g)
      GROUP BY 1, 2 ORDER BY id_l, id_r""",
    // Exact replay of the Bloom decontamination flags/counts (no false
    // negatives by construction; the deterministic md5 double-hash produces
    // zero false positives at test-SF gram counts, so exact == Bloom here).
    "q124_bloom_decontamination" -> """
      WITH tok AS (
        SELECT doc_id,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') END AS t
        FROM documents),
      cg AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 11),
                 i -> array_to_string(t[i:i+12], ' ')))) AS g
        FROM tok WHERE len(t) >= 13),
      bench AS (
        SELECT doc_id, t[3:32] AS bt FROM tok WHERE doc_id % 25 = 0),
      bg AS (
        SELECT DISTINCT g FROM (
          SELECT unnest(list_distinct(list_transform(range(1, len(bt) - 11),
                   i -> array_to_string(bt[i:i+12], ' ')))) AS g
          FROM bench WHERE len(bt) >= 13)),
      agg AS (
        SELECT c.doc_id, count(*) AS n_grams, count(bg.g) AS n_hits
        FROM cg c LEFT JOIN bg ON c.g = bg.g
        GROUP BY c.doc_id)
      SELECT tok.doc_id,
             CAST(coalesce(agg.n_grams, 0) AS BIGINT) AS n_grams,
             CAST(coalesce(agg.n_hits, 0) AS BIGINT) AS n_hits,
             coalesce(agg.n_hits, 0) > 0 AS contaminated
      FROM tok LEFT JOIN agg USING (doc_id) ORDER BY doc_id""",
    // RRF replay: the q105 BM25 chain at k=20, the q28 cosine chain with
    // anchor query vectors (VALUES list mirrors TextQueries.RrfAnchors),
    // then sum(1/(60+rank)) rounded to 9 dp and the fused re-rank. The
    // double cast on 1/(60+rn) keeps DuckDB out of DECIMAL arithmetic —
    // the Spark side computes IEEE doubles.
    "q125_rrf_fusion" -> """
      WITH q(query_id, qtext) AS (VALUES
        ('qa','spark join merge'), ('qb','customer order value'),
        ('qc','window agg batch'), ('qd','slow table scan')),
      qt AS (SELECT DISTINCT query_id, unnest(regexp_split_to_array(lower(trim(qtext)), '\s+')) AS token FROM q),
      lens AS (SELECT doc_id, CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
        ELSE len(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) END AS dl FROM documents),
      stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lens),
      terms AS (SELECT doc_id, unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS token
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM terms WHERE token IN (SELECT token FROM qt) GROUP BY 1, 2),
      dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      contrib AS (SELECT qt.query_id, tf.doc_id,
        ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS c
        FROM qt JOIN tf USING (token) JOIN dfq USING (token) JOIN lens USING (doc_id) CROSS JOIN stats),
      sscored AS (SELECT query_id, doc_id, round(sum(c), 6) AS score_r FROM contrib GROUP BY 1, 2),
      sparse AS (SELECT query_id, doc_id, rn FROM (
        SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY score_r DESC, doc_id) AS rn
        FROM sscored) WHERE rn <= 20),
      anchors(query_id, vid) AS (VALUES ('qa', 7), ('qb', 110), ('qc', 233), ('qd', 401)),
      qv AS (SELECT a.query_id, e.embedding AS v FROM anchors a JOIN embeddings e ON e.vec_id = a.vid),
      cscored AS (SELECT qv.query_id, e.vec_id AS doc_id,
        list_dot_product(qv.v::DOUBLE[], e.embedding::DOUBLE[])
          / (sqrt(list_dot_product(qv.v::DOUBLE[], qv.v::DOUBLE[]))
             * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS cosine
        FROM qv CROSS JOIN embeddings e),
      dense AS (SELECT query_id, doc_id, rn FROM (
        SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rn
        FROM cscored) WHERE rn <= 20),
      u AS (SELECT query_id, doc_id, rn FROM sparse UNION ALL SELECT query_id, doc_id, rn FROM dense),
      f AS (SELECT query_id, doc_id, round(sum(CAST(1 AS DOUBLE) / (60 + rn)), 9) AS rrf_r FROM u GROUP BY 1, 2),
      r AS (SELECT query_id, doc_id, rrf_r,
        CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_r DESC, doc_id) AS BIGINT) AS "rank" FROM f)
      SELECT query_id, doc_id, rrf_r, "rank" FROM r WHERE "rank" <= 10 ORDER BY query_id, "rank"""",
    // Containment replay: planted 60%-prefix snippets (+3000000 ids),
    // distinct 2-gram shingles, then the full directed pair set with
    // |A∩B|/|A| ≥ 0.75. ceil goes through DOUBLE so both engines round the
    // 0.6·len product identically.
    "q126_containment" -> """
      WITH raw AS (SELECT doc_id,
          CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
               ELSE regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') END AS t
        FROM documents),
      sn AS (SELECT doc_id + 3000000 AS doc_id,
          t[1:CAST(ceil(len(t) * CAST(0.6 AS DOUBLE)) AS INTEGER)] AS t
        FROM raw WHERE doc_id % 9 = 0),
      corpus AS (SELECT doc_id, t FROM raw UNION ALL SELECT doc_id, t FROM sn),
      sh AS (SELECT doc_id, CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
          ELSE list_distinct([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) END AS s
        FROM corpus),
      base AS (SELECT doc_id, s AS t FROM sh WHERE len(s) > 0)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE) / len(a.t), 6) AS containment_r
      FROM base a JOIN base b ON a.doc_id <> b.doc_id
      WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE) / len(a.t) >= 0.75
      ORDER BY id_a, id_b""",
    // Interleave replay: seeded md5 per-source order, then the closed-form
    // global position IS literally row_number() OVER (ORDER BY pos, source)
    // — the oracle states the spec the arithmetic must reproduce.
    "q127_interleave" -> """
      WITH h AS (SELECT doc_id, source,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY md5('cur1|' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos
        FROM documents)
      SELECT doc_id, source, pos,
        CAST(row_number() OVER (ORDER BY pos, source) - 1 AS BIGINT) AS global_pos
      FROM h ORDER BY global_pos""",
    // HLL replay: 60-bit md5 hash split into top-8 bucket / low-52 w,
    // rho = 52 − bitlen(w) + 1 via bin() (exact integers, no float log2),
    // register = max rho, harmonic sum as the exact integer Σ 2^(53−rho)
    // (empty registers contribute 2^53), then the same left-associated
    // α·m²·2^53 / S double division and linear-counting branch.
    // MG exact-regime replay: per-doc distinct 2-grams → GROUP BY count →
    // (cnt desc, gram) rank, top 20 per lang.
    "q163_heavy_hitters" -> """
      WITH ts AS (
        SELECT lang, regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS a
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      g AS (SELECT lang, unnest(list_distinct([a[i] || ' ' || a[i+1] for i in range(1, len(a))])) AS gram
            FROM ts WHERE len(a) >= 2),
      c AS (SELECT lang, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
      r AS (SELECT lang, gram, cnt,
              row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS rank
            FROM c)
      SELECT lang, CAST(rank AS BIGINT) AS rank, gram, cnt
      FROM r WHERE rank <= 20 ORDER BY lang, rank""",
    // KLL exact-regime replay: value at rank min(⌊q·n⌋+1, n) per lang.
    "q160_kll_quantiles" -> """
      WITH v AS (SELECT lang, CAST(length(text) AS DOUBLE) AS v FROM documents),
      r AS (SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
                   count(*) OVER (PARTITION BY lang) AS n FROM v)
      SELECT lang, CAST(max(n) AS BIGINT) AS n,
             max(CASE WHEN rn = least(floor(0.1 * n) + 1, n) THEN v END) AS p10,
             max(CASE WHEN rn = least(floor(0.5 * n) + 1, n) THEN v END) AS p50,
             max(CASE WHEN rn = least(floor(0.9 * n) + 1, n) THEN v END) AS p90,
             max(CASE WHEN rn = least(floor(0.99 * n) + 1, n) THEN v END) AS p99
      FROM r GROUP BY lang ORDER BY lang""",
    "q128_hll_distinct" -> """
      WITH ts AS (
        SELECT lang, regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS a
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      toks AS (SELECT lang, unnest(a) AS v, 'tok' AS tag FROM ts
        UNION ALL
        SELECT lang, unnest([a[i] || ' ' || a[i+1] for i in range(1, len(a))]) AS v, 'gram' AS tag
        FROM ts WHERE len(a) >= 2),
      h AS (SELECT lang, tag, CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS h FROM toks),
      b AS (SELECT lang, tag, h // 4503599627370496 AS bucket, h % 4503599627370496 AS w FROM h),
      r AS (SELECT lang, tag, bucket,
              max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS rho
            FROM b GROUP BY 1, 2, 3),
      g AS (SELECT lang, tag, count(*) AS nonzero,
              sum(CAST(1 AS BIGINT) << (53 - rho)) + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS s_num
            FROM r GROUP BY 1, 2),
      e AS (SELECT lang, tag, nonzero, s_num, 256 - nonzero AS zeros,
              0.7213 / (1 + 1.079 / 256) * 256 * 256 * power(2.0, 53) / CAST(s_num AS DOUBLE) AS raw
            FROM g),
      f AS (SELECT lang, tag, CAST(nonzero AS BIGINT) AS nonzero, CAST(s_num AS BIGINT) AS s_num,
              round(CASE WHEN zeros > 0 AND raw <= 640.0 THEN 256.0 * ln(256.0 / zeros) ELSE raw END, 4) AS est_r
            FROM e)
      SELECT t.lang,
             t.nonzero AS nonzero_tok, t.s_num AS s_tok, t.est_r AS est_tok_r,
             g2.nonzero AS nonzero_gram, g2.s_num AS s_gram, g2.est_r AS est_gram_r
      FROM (SELECT * FROM f WHERE tag = 'tok') t
      JOIN (SELECT * FROM f WHERE tag = 'gram') g2 USING (lang)
      ORDER BY lang""",
    "q81_top_ngram" -> """
      WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0 THEN text || repeat(' spam ham', 5)
                    ELSE text END AS text2
        FROM documents),
      base AS (
        SELECT doc_id, len(text2) AS chars,
               CASE WHEN regexp_replace(text2, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(lower(regexp_replace(text2, '^\s+|\s+$', '', 'g')), '\s+') END AS t
        FROM d),
      g AS (
        SELECT doc_id, unnest(list_transform(range(1, len(t)),
                 i -> array_to_string(t[i:i+1], ' '))) AS gram
        FROM base WHERE len(t) >= 2),
      c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
      top AS (
        SELECT doc_id, max(struct_pack(c := c, cov := c * len(gram), gram := gram)) AS s
        FROM c GROUP BY 1)
      SELECT b.doc_id,
             COALESCE(struct_extract(t.s, 'gram'), '') AS top_gram,
             CAST(COALESCE(struct_extract(t.s, 'c'), 0) AS BIGINT) AS top_gram_count,
             CASE WHEN b.chars > 0 AND struct_extract(t.s, 'c') IS NOT NULL
                  THEN CAST(struct_extract(t.s, 'cov') AS DOUBLE) / b.chars
                  ELSE 0.0 END AS top_gram_char_frac
      FROM base b LEFT JOIN top t USING (doc_id) ORDER BY doc_id""",
    "q79_repetition" -> """
      WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN text || chr(10) || substring(text, 1, 40)
                              || chr(10) || substring(text, 1, 40)
                    ELSE text END AS text2
        FROM documents),
      l AS (
        SELECT doc_id, unnest(string_split(text2, chr(10))) AS line FROM d),
      g AS (
        SELECT doc_id, line, count(*) AS c, len(line) AS ln
        FROM l GROUP BY doc_id, line)
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_lines,
             CAST(count(*) AS BIGINT) AS n_distinct_lines,
             CASE WHEN sum(c) > 0
                  THEN CAST(sum(c) - count(*) AS DOUBLE) / sum(c)
                  ELSE 0.0 END AS dup_line_frac,
             CASE WHEN sum(ln * c) > 0
                  THEN CAST(sum(CASE WHEN c > 1 THEN ln * c ELSE 0 END) AS DOUBLE) / sum(ln * c)
                  ELSE 0.0 END AS dup_char_frac
      FROM g GROUP BY doc_id ORDER BY doc_id""",
    "q20_dedup_exact" -> """
      SELECT lang, source, min(doc_id) AS doc_id, count(*) AS dup_count
      FROM documents GROUP BY lang, source ORDER BY lang, source""",
    "q21_fingerprint" -> """
      SELECT sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
             min(doc_id) AS doc_id, count(*) AS dup_count
      FROM documents GROUP BY 1 ORDER BY doc_id""",
    "q22_token_counts" -> """
      SELECT doc_id,
             CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                  ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tokens,
             len(regexp_extract_all(text, ' ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) AS n_bpeish
      FROM documents ORDER BY doc_id""",
    "q23_quality" -> """
      SELECT doc_id,
             (CASE WHEN chars > 0 THEN alpha / chars ELSE 0.0 END) * 0.4
             + (CASE WHEN chars >= 50 AND chars <= 100000 THEN 1.0 ELSE 0.0 END) * 0.2
             + (CASE WHEN words > 0 AND (chars - spaces) / words >= 2.0
                      AND (chars - spaces) / words <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.2
             + (CASE WHEN s_en > 0 THEN 1.0 ELSE 0.0 END) * 0.2 AS quality
      FROM (
        SELECT doc_id,
               CAST(length(text) AS DOUBLE) AS chars,
               CAST(len(regexp_extract_all(text, '[\p{L}]')) AS DOUBLE) AS alpha,
               CAST(len(regexp_extract_all(text, '\s')) AS DOUBLE) AS spaces,
               CAST(CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                    ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS DOUBLE) AS words,
               len(regexp_extract_all(lower(text), '\bthe\b')) + len(regexp_extract_all(lower(text), '\band\b'))
               + len(regexp_extract_all(lower(text), '\bof\b')) + len(regexp_extract_all(lower(text), '\bto\b'))
               + len(regexp_extract_all(lower(text), '\ba\b')) + len(regexp_extract_all(lower(text), '\bin\b'))
               + len(regexp_extract_all(lower(text), '\bis\b')) + len(regexp_extract_all(lower(text), '\bthat\b')) AS s_en
        FROM documents)
      ORDER BY doc_id""",
    "q24_langid" -> langIdOracle,
    "q25_jaccard_block" -> """
      WITH toks AS (
        SELECT doc_id, lang, source,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) END AS t
        FROM documents)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CASE WHEN len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) = 0 THEN 0.0
                  ELSE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                       / CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE) END AS jaccard
      FROM toks a JOIN toks b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE CASE WHEN len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) = 0 THEN 0.0
                 ELSE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                      / CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE) END >= 0.5
      ORDER BY id_a, id_b""",
    "q32_fuzzy_match" -> """
      WITH scored AS (
        SELECT s.s_suppkey, c.c_custkey,
               round(jaro_winkler_similarity(s.s_name, c.c_name), 6) AS jw_r
        FROM supplier s JOIN customer c ON s.s_nationkey = c.c_nationkey),
      ranked AS (
        SELECT s_suppkey, c_custkey, jw_r,
               row_number() OVER (PARTITION BY s_suppkey ORDER BY jw_r DESC, c_custkey) AS rnk
        FROM scored)
      SELECT s_suppkey, c_custkey, jw_r FROM ranked WHERE rnk = 1 ORDER BY s_suppkey""",
    "q31_rolling_fingerprint" -> """
      SELECT doc_id,
        CASE WHEN length(text) >= 16 THEN
          list_min([
            list_reduce([CAST(0 AS BIGINT)] || [CAST(ord(text[i+j]) AS BIGINT) for j in range(0, 16)],
                        (acc, c) -> (acc * 257 + c) % 2147483647)
            for i in range(1, length(text) - 16 + 2)])
        ELSE NULL END AS min_kgram_hash
      FROM documents ORDER BY doc_id""",
    "q59_salted_agg" -> """
      SELECT event_type,
             CAST(sum(user_id) AS BIGINT) AS sum_user_id,
             count(event_id) AS count_event_id,
             min(value) AS min_value
      FROM events GROUP BY event_type ORDER BY event_type""",
    "q65_decontamination" -> """
      WITH toks AS (
        SELECT doc_id, lang, source,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) END AS t
        FROM documents),
      tr AS (SELECT * FROM toks WHERE doc_id % 10 <> 0
             UNION ALL
             SELECT doc_id + 1000000 AS doc_id, lang, source, t
             FROM toks WHERE doc_id % 50 = 0),
      be AS (SELECT * FROM toks WHERE doc_id % 10 = 0)
      SELECT tr.doc_id AS id_l, be.doc_id AS id_r,
             CASE WHEN len(tr.t) + len(be.t) - len(list_intersect(tr.t, be.t)) = 0 THEN 0.0
                  ELSE CAST(len(list_intersect(tr.t, be.t)) AS DOUBLE)
                       / CAST(len(tr.t) + len(be.t) - len(list_intersect(tr.t, be.t)) AS DOUBLE) END AS jaccard
      FROM tr JOIN be ON tr.lang = be.lang AND tr.source = be.source
      WHERE CASE WHEN len(tr.t) + len(be.t) - len(list_intersect(tr.t, be.t)) = 0 THEN 0.0
                 ELSE CAST(len(list_intersect(tr.t, be.t)) AS DOUBLE)
                      / CAST(len(tr.t) + len(be.t) - len(list_intersect(tr.t, be.t)) AS DOUBLE) END >= 0.5
      ORDER BY id_l, id_r""",
    "q64_salted_join" -> """
      SELECT e.event_id, e.user_id, u.user_id % 7 AS user_bucket
      FROM events e JOIN (SELECT DISTINCT user_id FROM events) u
        ON e.user_id = u.user_id
      ORDER BY e.event_id""",
    "q60_stratified_sample" -> """
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) AS b
        FROM documents)
      WHERE b < CASE lang WHEN 'en' THEN 32768 WHEN 'de' THEN 16384 ELSE 6554 END
      ORDER BY doc_id""",
    // Logistic-fit replay: four unrolled GD iterations, each one CTE pair
    // (z/err → integer gradient sums → next weights), then the final
    // scoring pass. Every float op is written in the same association as
    // the Scala side; the gradient is exact-integer so partitioning and
    // row order cannot perturb it.
    "q165_logistic_quality" -> """
      WITH feat AS (
        SELECT doc_id, CAST(n_chars // 100 AS INT) AS f1,
               len(regexp_extract_all(text, '\bthe\b')) AS f2,
               CASE WHEN len(regexp_extract_all(text, '\bthe\b')) >= 2
                    THEN 1 ELSE 0 END AS y
        FROM documents),
      c AS (SELECT count(*) AS n FROM feat),
      i0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
      e1 AS (SELECT f.*, f.y - (0.5 + (z / 2.0) / (1.0 + abs(z))) AS e FROM (
               SELECT f.*, i0.w0 + i0.w1 * f.f1 + i0.w2 * f.f2 AS z
               FROM feat f, i0) f),
      g1 AS (SELECT sum(CAST(floor(e * 1.0 * 1000000.0) AS BIGINT)) AS g0,
                    sum(CAST(floor(e * f1 * 1000000.0) AS BIGINT)) AS g1,
                    sum(CAST(floor(e * f2 * 1000000.0) AS BIGINT)) AS g2
             FROM e1),
      i1 AS (SELECT i0.w0 + (1 * g1.g0) / (1.0 * 1000000.0 * c.n) AS w0,
                    i0.w1 + (1 * g1.g1) / (1.0 * 1000000.0 * c.n) AS w1,
                    i0.w2 + (1 * g1.g2) / (1.0 * 1000000.0 * c.n) AS w2
             FROM i0, g1, c),
      e2 AS (SELECT f.*, f.y - (0.5 + (z / 2.0) / (1.0 + abs(z))) AS e FROM (
               SELECT f.*, i1.w0 + i1.w1 * f.f1 + i1.w2 * f.f2 AS z
               FROM feat f, i1) f),
      g2 AS (SELECT sum(CAST(floor(e * 1.0 * 1000000.0) AS BIGINT)) AS g0,
                    sum(CAST(floor(e * f1 * 1000000.0) AS BIGINT)) AS g1,
                    sum(CAST(floor(e * f2 * 1000000.0) AS BIGINT)) AS g2
             FROM e2),
      i2 AS (SELECT i1.w0 + (1 * g2.g0) / (1.0 * 1000000.0 * c.n) AS w0,
                    i1.w1 + (1 * g2.g1) / (1.0 * 1000000.0 * c.n) AS w1,
                    i1.w2 + (1 * g2.g2) / (1.0 * 1000000.0 * c.n) AS w2
             FROM i1, g2, c),
      e3 AS (SELECT f.*, f.y - (0.5 + (z / 2.0) / (1.0 + abs(z))) AS e FROM (
               SELECT f.*, i2.w0 + i2.w1 * f.f1 + i2.w2 * f.f2 AS z
               FROM feat f, i2) f),
      g3 AS (SELECT sum(CAST(floor(e * 1.0 * 1000000.0) AS BIGINT)) AS g0,
                    sum(CAST(floor(e * f1 * 1000000.0) AS BIGINT)) AS g1,
                    sum(CAST(floor(e * f2 * 1000000.0) AS BIGINT)) AS g2
             FROM e3),
      i3 AS (SELECT i2.w0 + (1 * g3.g0) / (1.0 * 1000000.0 * c.n) AS w0,
                    i2.w1 + (1 * g3.g1) / (1.0 * 1000000.0 * c.n) AS w1,
                    i2.w2 + (1 * g3.g2) / (1.0 * 1000000.0 * c.n) AS w2
             FROM i2, g3, c),
      e4 AS (SELECT f.*, f.y - (0.5 + (z / 2.0) / (1.0 + abs(z))) AS e FROM (
               SELECT f.*, i3.w0 + i3.w1 * f.f1 + i3.w2 * f.f2 AS z
               FROM feat f, i3) f),
      g4 AS (SELECT sum(CAST(floor(e * 1.0 * 1000000.0) AS BIGINT)) AS g0,
                    sum(CAST(floor(e * f1 * 1000000.0) AS BIGINT)) AS g1,
                    sum(CAST(floor(e * f2 * 1000000.0) AS BIGINT)) AS g2
             FROM e4),
      i4 AS (SELECT i3.w0 + (1 * g4.g0) / (1.0 * 1000000.0 * c.n) AS w0,
                    i3.w1 + (1 * g4.g1) / (1.0 * 1000000.0 * c.n) AS w1,
                    i3.w2 + (1 * g4.g2) / (1.0 * 1000000.0 * c.n) AS w2
             FROM i3, g4, c),
      scored AS (
        SELECT f.doc_id, CAST(f.y AS BIGINT) AS y, z,
               0.5 + (z / 2.0) / (1.0 + abs(z)) AS p
        FROM (SELECT f.*, i4.w0 + i4.w1 * f.f1 + i4.w2 * f.f2 AS z
              FROM feat f, i4) f)
      SELECT doc_id, y, round(z, 6) AS z_r, round(p, 6) AS p_r,
             p >= 0.5 AS pred
      FROM scored ORDER BY doc_id""",
    "q174_sparse_logistic" -> """
      WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS tok
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      labels AS (
        SELECT doc_id, CASE WHEN len(regexp_extract_all(text, '\bthe\b')) >= 2
                            THEN 1 ELSE 0 END AS y
        FROM documents),
      feats AS (
        SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 256 AS feature,
               count(*) AS cnt
        FROM toks GROUP BY 1, 2
        UNION ALL SELECT doc_id, -1 AS feature, 1 AS cnt FROM labels),
      c AS (SELECT count(*) AS n FROM labels),
      e1 AS (SELECT doc_id, y - 0.5 AS e FROM labels),
      g1 AS (SELECT feature, sum(CAST(floor(e * CAST(cnt AS DOUBLE) * 1000000.0) AS BIGINT)) AS g
             FROM feats JOIN e1 USING (doc_id) GROUP BY feature),
      w1 AS (SELECT feature, CAST(floor(CAST(1 * g AS DOUBLE) * 1000000.0
               / (1.0 * 1000000.0 * c.n)) AS BIGINT) AS wq
             FROM g1 CROSS JOIN c),
      z2 AS (SELECT f.doc_id, sum(coalesce(w1.wq, 0) * f.cnt) AS znum
             FROM feats f LEFT JOIN w1 USING (feature) GROUP BY f.doc_id),
      e2 AS (SELECT l.doc_id, l.y - (0.5 + (z / 2.0) / (1.0 + abs(z))) AS e
             FROM (SELECT doc_id, CAST(znum AS DOUBLE) / 1000000.0 AS z FROM z2) zz
             JOIN labels l USING (doc_id)),
      g2 AS (SELECT feature, sum(CAST(floor(e * CAST(cnt AS DOUBLE) * 1000000.0) AS BIGINT)) AS g
             FROM feats JOIN e2 USING (doc_id) GROUP BY feature),
      w2 AS (SELECT feature, coalesce(w1.wq, 0) + CAST(floor(CAST(1 * g AS DOUBLE) * 1000000.0
               / (1.0 * 1000000.0 * c.n)) AS BIGINT) AS wq
             FROM g2 LEFT JOIN w1 USING (feature) CROSS JOIN c),
      z3 AS (SELECT f.doc_id, sum(coalesce(w2.wq, 0) * f.cnt) AS znum
             FROM feats f LEFT JOIN w2 USING (feature) GROUP BY f.doc_id),
      e3 AS (SELECT l.doc_id, l.y - (0.5 + (z / 2.0) / (1.0 + abs(z))) AS e
             FROM (SELECT doc_id, CAST(znum AS DOUBLE) / 1000000.0 AS z FROM z3) zz
             JOIN labels l USING (doc_id)),
      g3 AS (SELECT feature, sum(CAST(floor(e * CAST(cnt AS DOUBLE) * 1000000.0) AS BIGINT)) AS g
             FROM feats JOIN e3 USING (doc_id) GROUP BY feature),
      w3 AS (SELECT feature, coalesce(w2.wq, 0) + CAST(floor(CAST(1 * g AS DOUBLE) * 1000000.0
               / (1.0 * 1000000.0 * c.n)) AS BIGINT) AS wq
             FROM g3 LEFT JOIN w2 USING (feature) CROSS JOIN c),
      zf AS (SELECT f.doc_id, sum(coalesce(w3.wq, 0) * f.cnt) AS znum
             FROM feats f LEFT JOIN w3 USING (feature) GROUP BY f.doc_id),
      scored AS (SELECT doc_id, CAST(znum AS DOUBLE) / 1000000.0 AS z FROM zf)
      SELECT s.doc_id, CAST(l.y AS BIGINT) AS y,
             round(s.z, 6) AS z_r,
             round(0.5 + (s.z / 2.0) / (1.0 + abs(s.z)), 6) AS p_r,
             (0.5 + (s.z / 2.0) / (1.0 + abs(s.z))) >= 0.5 AS pred
      FROM scored s JOIN labels l USING (doc_id) ORDER BY s.doc_id""",
    // Incremental-minhash replay (exact regime): group by the sorted
    // distinct 3-shingle set; a batch doc with a stored set-mate is
    // dup_of_stored (min stored id), else dup_in_batch toward the group's
    // min batch id, else kept. Empty shingle sets (<3 tokens) never pair
    // (jaccard(∅,∅)=0 < t).
    "q168_incremental_minhash" -> """
      WITH tok AS (
        SELECT doc_id,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') END AS a
        FROM documents),
      sets AS (
        SELECT doc_id,
               CASE WHEN len(a) < 3 THEN CAST([] AS VARCHAR[])
                    ELSE list_sort(list_distinct(
                      [a[i] || ' ' || a[i+1] || ' ' || a[i+2] for i in range(1, len(a) - 1)]))
               END AS s
        FROM tok),
      allsides AS (
        SELECT doc_id, s, 's' AS side FROM sets WHERE doc_id % 5 <> 0
        UNION ALL
        SELECT doc_id + 20000, s, 'b' FROM sets WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 40000, s, 'b' FROM sets WHERE doc_id % 5 = 1
        UNION ALL
        SELECT doc_id + 60000, s, 'b' FROM sets WHERE doc_id % 5 = 0),
      g AS (
        SELECT s, min(CASE WHEN side = 's' THEN doc_id END) AS smin,
               min(doc_id) AS gmin, count(*) AS sz
        FROM allsides WHERE len(s) > 0 GROUP BY s)
      SELECT b.doc_id,
             CASE WHEN len(b.s) = 0 OR g.sz = 1 THEN 'kept'
                  WHEN g.smin IS NOT NULL THEN 'dup_of_stored'
                  WHEN g.gmin <> b.doc_id THEN 'dup_in_batch'
                  ELSE 'kept' END AS status,
             CASE WHEN len(b.s) = 0 OR g.sz = 1 THEN NULL
                  WHEN g.smin IS NOT NULL THEN g.smin
                  WHEN g.gmin <> b.doc_id THEN g.gmin
                  END AS attributed_to
      FROM (SELECT * FROM allsides WHERE side = 'b') b
      LEFT JOIN g ON b.s = g.s AND len(b.s) > 0
      ORDER BY b.doc_id""",
    // Incremental-dedup replay: cross matches (min stored id), batch-only
    // pairs among the clean remainder, recursive-CTE min-component, then
    // the stored-beats-in-batch precedence.
    "q164_incremental_dedup" -> """
      WITH toks AS (
        SELECT doc_id, lang, source,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) END AS t
        FROM documents),
      stored AS (SELECT * FROM toks WHERE doc_id % 3 <> 0),
      batch AS (SELECT * FROM toks WHERE doc_id % 3 = 0),
      cross_m AS (
        SELECT b.doc_id AS id, min(s.doc_id) AS att
        FROM batch b JOIN stored s ON b.lang = s.lang AND b.source = s.source
        WHERE len(b.t) + len(s.t) - len(list_intersect(b.t, s.t)) > 0
          AND CAST(len(list_intersect(b.t, s.t)) AS DOUBLE)
              / CAST(len(b.t) + len(s.t) - len(list_intersect(b.t, s.t)) AS DOUBLE) >= 0.7
        GROUP BY 1),
      clean AS (SELECT * FROM batch WHERE doc_id NOT IN (SELECT id FROM cross_m)),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM clean a JOIN clean b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) > 0
          AND CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
              / CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE) >= 0.7),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      rec AS (
        WITH RECURSIVE reach(v, l) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, reach.l FROM reach JOIN edges e ON e.src = reach.v)
        SELECT v, min(l) AS component FROM reach GROUP BY v)
      SELECT b.doc_id,
             CASE WHEN cm.att IS NOT NULL THEN 'dup_of_stored'
                  WHEN rec.component IS NOT NULL AND rec.component <> b.doc_id THEN 'dup_in_batch'
                  ELSE 'kept' END AS status,
             CASE WHEN cm.att IS NOT NULL THEN cm.att
                  WHEN rec.component IS NOT NULL AND rec.component <> b.doc_id THEN rec.component
                  END AS attributed_to
      FROM batch b
      LEFT JOIN cross_m cm ON cm.id = b.doc_id
      LEFT JOIN rec ON rec.v = b.doc_id
      ORDER BY b.doc_id""",
    // Curation-v2 replay: q181's per-lm KN chain (ce only), q184's novelty
    // chain, and q87's bucket-cumsum budget cut, chained over one shared
    // tokenization.
    "q187_curation_v2" -> """
      WITH toks AS (
        SELECT doc_id, lang,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') END AS ts
        FROM documents),
      bg_all AS (
        SELECT doc_id, lang, ts[i] AS w1, ts[i+1] AS w2
        FROM toks, LATERAL (SELECT unnest(range(1, len(ts))) AS i)
        WHERE len(ts) >= 2),
      lms(lm) AS (VALUES ('in'), ('gen')),
      tr AS (
        SELECT lm, w1, w2 FROM bg_all, lms
        WHERE doc_id % 10 <> 0 AND (lm = 'gen' OR lang = 'en')),
      bi AS (SELECT lm, w1, w2, count(*) AS c2 FROM tr GROUP BY 1, 2, 3),
      lft AS (SELECT lm, w1, sum(c2) AS c1, count(*) AS nf FROM bi GROUP BY 1, 2),
      cont AS (SELECT lm, w2, count(*) AS nl FROM bi GROUP BY 1, 2),
      ty AS (SELECT lm, count(*) AS t FROM bi GROUP BY 1),
      vo AS (SELECT lm, count(DISTINCT u) AS v FROM
               (SELECT lm, unnest(ts) AS u FROM toks, lms
                WHERE doc_id % 10 <> 0 AND (lm = 'gen' OR lang = 'en'))
             GROUP BY lm),
      tot AS (SELECT lm, t, v FROM ty JOIN vo USING (lm)),
      sc AS (
        SELECT s.doc_id, lms.lm,
          CASE WHEN lft.c1 IS NOT NULL THEN
            greatest(CAST(coalesce(bi.c2, 0) AS DOUBLE) - 0.75, 0.0) / lft.c1
            + 0.75 * lft.nf / lft.c1
              * (CAST(coalesce(cont.nl, 0) AS DOUBLE) + 1.0) / (tot.t + tot.v + 1.0)
          ELSE (CAST(coalesce(cont.nl, 0) AS DOUBLE) + 1.0) / (tot.t + tot.v + 1.0)
          END AS p
        FROM bg_all s CROSS JOIN lms
        LEFT JOIN bi ON bi.lm = lms.lm AND bi.w1 = s.w1 AND bi.w2 = s.w2
        LEFT JOIN lft ON lft.lm = lms.lm AND lft.w1 = s.w1
        LEFT JOIN cont ON cont.lm = lms.lm AND cont.w2 = s.w2
        JOIN tot ON tot.lm = lms.lm),
      per AS (SELECT doc_id, lm, avg(-ln(p)) AS nll FROM sc GROUP BY 1, 2),
      ml AS (SELECT doc_id,
               round(max(CASE WHEN lm = 'in' THEN nll END)
                     - max(CASE WHEN lm = 'gen' THEN nll END), 6) AS ce_diff_r
             FROM per GROUP BY doc_id),
      tg AS (
        SELECT DISTINCT unnest(list_transform(range(1, len(ts) - 11),
                 i -> array_to_string(ts[i:i+12], ' '))) AS g
        FROM toks WHERE doc_id % 10 <> 0 AND len(ts) >= 13),
      sg AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ts) - 11),
                 i -> array_to_string(ts[i:i+12], ' ')))) AS g
        FROM toks WHERE len(ts) >= 13),
      tot_g AS (SELECT doc_id, count(*) AS n_grams FROM sg GROUP BY 1),
      nov_g AS (SELECT doc_id, count(*) AS n_novel FROM sg ANTI JOIN tg USING (g) GROUP BY 1),
      nov AS (SELECT t.doc_id,
                round(CAST(coalesce(nov_g.n_novel, 0) AS DOUBLE) / t.n_grams, 6) AS novelty_r
              FROM tot_g t LEFT JOIN nov_g USING (doc_id)),
      cnt AS (
        SELECT doc_id,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                    ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tokens
        FROM documents),
      cand AS (
        SELECT c.doc_id, c.n_tokens, ml.ce_diff_r, nov.novelty_r
        FROM cnt c JOIN ml USING (doc_id) JOIN nov USING (doc_id)
        WHERE ml.ce_diff_r <= -0.01 AND nov.novelty_r >= 0.5),
      bkt AS (SELECT *, COALESCE(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER), 0) AS b
              FROM cand),
      cum AS (SELECT doc_id, n_tokens, ce_diff_r, novelty_r,
                sum(n_tokens) OVER (ORDER BY b, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
              FROM bkt)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, ce_diff_r, novelty_r
      FROM cum WHERE cm <= 3000 ORDER BY doc_id""",
    // Margin replay: full X×Y cosines, per-side top-4 averages (rank ties
    // on the neighbor id, matching the legs), top-1 pairs, ratio margin,
    // rounded threshold.
    "q186_margin_mine" -> """
      WITH x AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
      y AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
      xy AS (
        SELECT x.vec_id AS x_id, y.vec_id AS y_id,
               list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(x.embedding::DOUBLE[], x.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(y.embedding::DOUBLE[], y.embedding::DOUBLE[]))) AS cosine
        FROM x CROSS JOIN y),
      xk AS (SELECT x_id, y_id, cosine,
               row_number() OVER (PARTITION BY x_id ORDER BY cosine DESC, y_id) AS r FROM xy),
      yk AS (SELECT x_id, y_id, cosine,
               row_number() OVER (PARTITION BY y_id ORDER BY cosine DESC, x_id) AS r FROM xy),
      ax AS (SELECT x_id, avg(cosine) AS ax FROM xk WHERE r <= 4 GROUP BY 1),
      ay AS (SELECT y_id, avg(cosine) AS ay FROM yk WHERE r <= 4 GROUP BY 1),
      top1 AS (SELECT x_id, y_id, cosine FROM xk WHERE r = 1),
      m AS (SELECT t.x_id, t.y_id, t.cosine,
                   t.cosine / (ax.ax / 2 + ay.ay / 2) AS margin
            FROM top1 t JOIN ax USING (x_id) JOIN ay USING (y_id))
      SELECT x_id, y_id, round(cosine, 6) AS cosine_r, round(margin, 6) AS margin_r
      FROM m WHERE round(margin, 6) >= 1.02 ORDER BY x_id""",
    // Novelty replay: q80's 13-gram construction on BOTH sides (per-doc
    // distinct on score, corpus-distinct on train), novel = anti-join
    // survivors counted per doc.
    "q184_ngram_novelty" -> """
      WITH tok AS (
        SELECT doc_id,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') END AS t
        FROM documents),
      tg AS (
        SELECT DISTINCT unnest(list_transform(range(1, len(t) - 11),
                 i -> array_to_string(t[i:i+12], ' '))) AS g
        FROM tok WHERE doc_id % 3 <> 0 AND len(t) >= 13),
      sg AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 11),
                 i -> array_to_string(t[i:i+12], ' ')))) AS g
        FROM tok WHERE len(t) >= 13),
      tot AS (SELECT doc_id, count(*) AS n_grams FROM sg GROUP BY 1),
      nov AS (SELECT doc_id, count(*) AS n_novel FROM sg ANTI JOIN tg USING (g) GROUP BY 1)
      SELECT t.doc_id, t.n_grams, CAST(coalesce(nov.n_novel, 0) AS BIGINT) AS n_novel,
             round(CAST(coalesce(nov.n_novel, 0) AS DOUBLE) / t.n_grams, 6) AS novelty_r
      FROM tot t LEFT JOIN nov USING (doc_id) ORDER BY doc_id""",
    // Coverage-curve replay: token frequencies, (cnt desc, token) ranking,
    // running-sum share of the corpus total, top 200.
    "q185_vocab_coverage" -> """
      WITH tok AS (
        SELECT unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS token
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
      tot AS (SELECT sum(cnt) AS t FROM freq),
      ranked AS (SELECT token, cnt,
        row_number() OVER (ORDER BY cnt DESC, token) AS r,
        sum(cnt) OVER (ORDER BY cnt DESC, token ROWS UNBOUNDED PRECEDING) AS cum
        FROM freq)
      SELECT CAST(r AS BIGINT) AS rank, token, cnt,
             round(CAST(cum AS DOUBLE) / t, 6) AS coverage_r
      FROM ranked CROSS JOIN tot WHERE r <= 200 ORDER BY rank""",
    // Two-day fixpoint replay: q164's chain run twice — day-1 report,
    // survivors unioned into the stored side, day-2 report over the grown
    // corpus. Each day gets its own nested recursive-CTE component pass.
    "q183_two_day_dedup" -> """
      WITH toks AS (
        SELECT doc_id, lang, source,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) END AS t
        FROM documents),
      stored0 AS (SELECT * FROM toks WHERE doc_id % 4 <> 0),
      b1 AS (SELECT doc_id + 20000 AS doc_id, lang, source, t FROM toks WHERE doc_id % 4 = 0),
      b2 AS (SELECT doc_id + 40000 AS doc_id, lang, source, t FROM toks WHERE doc_id % 4 = 0),
      cross1 AS (
        SELECT b.doc_id AS id, min(s.doc_id) AS att
        FROM b1 b JOIN stored0 s ON b.lang = s.lang AND b.source = s.source
        WHERE len(b.t) + len(s.t) - len(list_intersect(b.t, s.t)) > 0
          AND CAST(len(list_intersect(b.t, s.t)) AS DOUBLE)
              / CAST(len(b.t) + len(s.t) - len(list_intersect(b.t, s.t)) AS DOUBLE) >= 0.7
        GROUP BY 1),
      clean1 AS (SELECT * FROM b1 WHERE doc_id NOT IN (SELECT id FROM cross1)),
      pairs1 AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM clean1 a JOIN clean1 b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) > 0
          AND CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
              / CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE) >= 0.7),
      edges1 AS (SELECT id_a AS src, id_b AS dst FROM pairs1
                 UNION SELECT id_b, id_a FROM pairs1),
      rec1 AS (
        WITH RECURSIVE reach(v, l) AS (
          SELECT src, src FROM edges1
          UNION
          SELECT e.dst, reach.l FROM reach JOIN edges1 e ON e.src = reach.v)
        SELECT v, min(l) AS component FROM reach GROUP BY v),
      rep1 AS (
        SELECT b.doc_id,
               CASE WHEN cm.att IS NOT NULL THEN 'dup_of_stored'
                    WHEN rec1.component IS NOT NULL AND rec1.component <> b.doc_id THEN 'dup_in_batch'
                    ELSE 'kept' END AS status,
               CASE WHEN cm.att IS NOT NULL THEN cm.att
                    WHEN rec1.component IS NOT NULL AND rec1.component <> b.doc_id THEN rec1.component
                    END AS attributed_to
        FROM b1 b
        LEFT JOIN cross1 cm ON cm.id = b.doc_id
        LEFT JOIN rec1 ON rec1.v = b.doc_id),
      stored1 AS (
        SELECT * FROM stored0
        UNION ALL
        SELECT b1.* FROM b1 JOIN rep1 ON b1.doc_id = rep1.doc_id AND rep1.status = 'kept'),
      cross2 AS (
        SELECT b.doc_id AS id, min(s.doc_id) AS att
        FROM b2 b JOIN stored1 s ON b.lang = s.lang AND b.source = s.source
        WHERE len(b.t) + len(s.t) - len(list_intersect(b.t, s.t)) > 0
          AND CAST(len(list_intersect(b.t, s.t)) AS DOUBLE)
              / CAST(len(b.t) + len(s.t) - len(list_intersect(b.t, s.t)) AS DOUBLE) >= 0.7
        GROUP BY 1),
      clean2 AS (SELECT * FROM b2 WHERE doc_id NOT IN (SELECT id FROM cross2)),
      pairs2 AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM clean2 a JOIN clean2 b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) > 0
          AND CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
              / CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE) >= 0.7),
      edges2 AS (SELECT id_a AS src, id_b AS dst FROM pairs2
                 UNION SELECT id_b, id_a FROM pairs2),
      rec2 AS (
        WITH RECURSIVE reach(v, l) AS (
          SELECT src, src FROM edges2
          UNION
          SELECT e.dst, reach.l FROM reach JOIN edges2 e ON e.src = reach.v)
        SELECT v, min(l) AS component FROM reach GROUP BY v),
      rep2 AS (
        SELECT b.doc_id,
               CASE WHEN cm.att IS NOT NULL THEN 'dup_of_stored'
                    WHEN rec2.component IS NOT NULL AND rec2.component <> b.doc_id THEN 'dup_in_batch'
                    ELSE 'kept' END AS status,
               CASE WHEN cm.att IS NOT NULL THEN cm.att
                    WHEN rec2.component IS NOT NULL AND rec2.component <> b.doc_id THEN rec2.component
                    END AS attributed_to
        FROM b2 b
        LEFT JOIN cross2 cm ON cm.id = b.doc_id
        LEFT JOIN rec2 ON rec2.v = b.doc_id)
      SELECT CAST(1 AS BIGINT) AS day, doc_id, status, attributed_to FROM rep1
      UNION ALL
      SELECT CAST(2 AS BIGINT), doc_id, status, attributed_to FROM rep2
      ORDER BY day, doc_id""",
    "q53_dedup_pipeline" -> """
      WITH s1 AS (
        SELECT d.doc_id, d.lang, d.source, d.text FROM documents d
        JOIN (SELECT text, min(doc_id) AS keep FROM documents GROUP BY text) k
          ON d.doc_id = k.keep),
      s2 AS (
        SELECT d.doc_id, d.lang, d.source, d.text FROM s1 d
        JOIN (SELECT sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                     min(doc_id) AS keep
              FROM s1 GROUP BY 1) k
          ON d.doc_id = k.keep),
      toks AS (
        SELECT doc_id, lang, source,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) END AS t
        FROM s2),
      dups AS (
        SELECT DISTINCT b.doc_id FROM toks a JOIN toks b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) > 0
          AND CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
              / CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE) >= 0.7)
      SELECT doc_id, lang, source FROM s2
      WHERE doc_id NOT IN (SELECT doc_id FROM dups)
      ORDER BY doc_id""",
    "q52_dedup_clusters" -> """
      WITH toks AS (
        SELECT doc_id, lang, source,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) END AS t
        FROM documents),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM toks a JOIN toks b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
              / CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE) >= 0.5),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      rec AS (
        WITH RECURSIVE reach(v, l) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, reach.l FROM reach JOIN edges e ON e.src = reach.v)
        SELECT v, min(l) AS component FROM reach GROUP BY v)
      SELECT d.doc_id, COALESCE(rec.component, d.doc_id) AS component
      FROM documents d LEFT JOIN rec ON d.doc_id = rec.v
      ORDER BY d.doc_id""",
    // Incremental-CC replay: the SAME deterministic synthetic edge set, but
    // solved from scratch with the recursive min-label CTE — the
    // incremental path (stored 2/3 + star-edge replay of the batch-touched
    // components) must land on identical labels.
    "q171_incremental_cc" -> """
      WITH ids AS (SELECT doc_id FROM documents),
      e0 AS (
        SELECT d.doc_id AS src, d.doc_id % 500 * 7 % 1000 AS dst
        FROM ids d
        WHERE EXISTS (SELECT 1 FROM ids x WHERE x.doc_id = d.doc_id % 500 * 7 % 1000)),
      edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      rec AS (
        WITH RECURSIVE reach(v, l) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, reach.l FROM reach JOIN edges e ON e.src = reach.v)
        SELECT v, min(l) AS component FROM reach GROUP BY v)
      SELECT v AS vertex, component FROM rec ORDER BY vertex""",
    "q50_chunking" -> """
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t FROM documents),
      chunks AS (
        SELECT doc_id,
               CAST(i AS BIGINT) AS chunk_id,
               array_to_string(t[(i * 48 + 1):(i * 48 + 64)], ' ') AS chunk_text
        FROM toks, LATERAL (
          SELECT unnest(range(0, greatest(CAST(ceil((len(t) - 16) / 48.0) AS BIGINT), 1))) AS i))
      SELECT doc_id, chunk_id, chunk_text,
             CASE WHEN chunk_text = '' THEN CAST(0 AS BIGINT)
                  ELSE CAST(len(regexp_split_to_array(chunk_text, '\s+')) AS BIGINT) END AS chunk_tokens
      FROM chunks ORDER BY doc_id, chunk_id""",
    "q49_split" -> """
      SELECT doc_id,
             CASE WHEN b < 52429 THEN 'train'
                  WHEN b < 58982 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
              CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) AS b
            FROM documents)
      ORDER BY doc_id""",
    // Leak-safe split replay: near-dup components (q52's recursive CTE at
    // t=0.7) → canonical key → q49's bucket arithmetic on that key.
    "q166_leak_safe_split" -> """
      WITH toks AS (
        SELECT doc_id, lang, source,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) END AS t
        FROM documents),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM toks a JOIN toks b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) > 0
          AND CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
              / CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE) >= 0.7),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      rec AS (
        WITH RECURSIVE reach(v, l) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, reach.l FROM reach JOIN edges e ON e.src = reach.v)
        SELECT v, min(l) AS component FROM reach GROUP BY v),
      keyed AS (
        SELECT d.doc_id, COALESCE(rec.component, d.doc_id) AS split_key
        FROM documents d LEFT JOIN rec ON d.doc_id = rec.v)
      SELECT doc_id, split_key,
             CASE WHEN CAST(('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 4)) AS INTEGER) < 52429
                  THEN 'train' ELSE 'test' END AS split
      FROM keyed ORDER BY doc_id""",
    // Weighted-sample replay: stable 52-bit uniform, Gumbel key, top-50 rank.
    "q167_weighted_sample" -> """
      WITH k AS (
        SELECT doc_id,
               (CAST(('0x' || substr(md5('ws|' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 0.5) / 4503599627370496.0 AS u,
               ln(CAST(n_chars AS DOUBLE) + 1.0) AS logw
        FROM documents),
      r AS (SELECT doc_id, round(u, 9) AS u_r,
                   round(logw - ln(-ln(u)), 9) AS key_r FROM k),
      t AS (SELECT doc_id, u_r, key_r,
                   row_number() OVER (ORDER BY key_r DESC, doc_id) AS rank FROM r)
      SELECT doc_id, u_r, key_r, CAST(rank AS BIGINT) AS rank
      FROM t WHERE rank <= 50 ORDER BY rank""",
    "q42_tfidf" -> """
      WITH terms AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS token
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2),
      docfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.token,
               round(tf.tf * ln(CAST(n.n AS DOUBLE) / docfreq.df), 6) AS tfidf_r
        FROM tf JOIN docfreq USING (token) CROSS JOIN n),
      ranked AS (
        SELECT doc_id, token, tfidf_r,
               row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_r DESC, token) AS term_rank
        FROM scored)
      SELECT doc_id, token, tfidf_r, CAST(term_rank AS BIGINT) AS term_rank
      FROM ranked WHERE term_rank <= 3 ORDER BY doc_id, term_rank""",
    "q39_pii_scrub" -> """
      WITH docs AS (
        SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or '
               || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0') || '-555-'
               || lpad(CAST(doc_id % 9000 + 1000 AS VARCHAR), 4, '0') AS text2
        FROM documents)
      SELECT doc_id,
             CAST(len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
             CAST(len(regexp_extract_all(text2, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
             CAST(len(regexp_extract_all(text2, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
             regexp_replace(regexp_replace(regexp_replace(text2,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
               '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g') AS scrubbed
      FROM docs ORDER BY doc_id""",
    "q38_entity_exact" -> """
      SELECT o.o_orderkey, o.o_custkey AS customerno,
             CASE WHEN c.c_custkey IS NOT NULL THEN 'g-' || CAST(c.c_custkey AS VARCHAR) END AS globalid
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      ORDER BY o.o_orderkey""",
    "q28_ann_topk" -> """
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      scored AS (
        SELECT q.query_id, e.vec_id,
               list_dot_product(q.qv::DOUBLE[], e.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))
                    * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS cosine
        FROM q CROSS JOIN embeddings e),
      ranked AS (
        SELECT query_id, vec_id, cosine,
               row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        FROM scored)
      SELECT query_id, vec_id, round(cosine, 6) AS cosine_r, rank
      FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""",
    // Exact replay of the minhash precision regime: all pairs with
    // 2-shingle jaccard >= 0.9 over documents + planted near-dups (banding
    // miss probability ~8e-19 at j=0.9 with 32x3 — see the query comment).
    "q26_minhash_pairs" -> """
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text || ' graftdup' AS text
        FROM documents WHERE doc_id % 7 = 0),
      tok AS (
        SELECT doc_id,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') END AS t
        FROM corpus),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) END AS s
        FROM tok)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) > 0
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.9
      ORDER BY id_a, id_b""",
    // Exact order-insensitive duplicate pairs (simhashDupes contract):
    // KEEP-FIRST rows — each doc joined to the minimum doc_id sharing its
    // sorted token multiset, over documents + planted identical copies.
    "q27_simhash_pairs" -> """
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0),
      tok AS (
        SELECT doc_id,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE list_sort(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) END AS t
        FROM corpus),
      firsts AS (SELECT t, min(doc_id) AS id_a FROM tok GROUP BY t)
      SELECT f.id_a, g.doc_id AS id_b, CAST(0 AS INTEGER) AS hamming
      FROM tok g JOIN firsts f ON g.t = f.t AND g.doc_id > f.id_a
      ORDER BY id_a, id_b""",
    // Bit-exact replay of hyperplane-LSH top-k: the plane components'
    // LCG (x -> x*6364136223846793005 + 1442695040888963407 mod 2^64, two
    // rounds, >>>11, /2^52*2-1) in HUGEINT arithmetic; bucket = sign bits,
    // probes = bucket + 1-bit flips, rank = cosine desc / vec_id.
    "q29_ann_lsh" -> """
      WITH pc AS (
        SELECT p, d,
          CAST(
            ((( (p*1000003 + d*7919 + 12345)::HUGEINT * 6364136223846793005 + 1442695040888963407)
               % 18446744073709551616::HUGEINT)
              * 6364136223846793005 + 1442695040888963407) % 18446744073709551616::HUGEINT
            // 2048 AS DOUBLE) / 4503599627370496.0 * 2.0 - 1.0 AS w
        FROM range(0,8) t1(p), range(0,64) t2(d)),
      pvec AS (SELECT p, list(w ORDER BY d) AS pw FROM pc GROUP BY p),
      sig AS (
        SELECT e.vec_id,
               SUM(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), v.pw) > 0
                        THEN (1::BIGINT << v.p) ELSE 0 END)::BIGINT AS bucket
        FROM embeddings e CROSS JOIN pvec v GROUP BY e.vec_id),
      q AS (SELECT s.vec_id AS query_id, e.embedding AS qv, s.bucket AS b0
            FROM sig s JOIN embeddings e ON s.vec_id = e.vec_id WHERE s.vec_id < 5),
      probes AS (
        SELECT query_id, qv,
               unnest([b0] || list_transform(generate_series(0,7), p -> xor(b0, 1::BIGINT << p))) AS bucket
        FROM q),
      cand AS (
        SELECT p.query_id, p.qv, s.vec_id, e.embedding AS cv
        FROM probes p JOIN sig s ON p.bucket = s.bucket
        JOIN embeddings e ON s.vec_id = e.vec_id),
      scored AS (
        SELECT query_id, vec_id,
               list_dot_product(qv::DOUBLE[], cv::DOUBLE[])
                 / (sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))
                    * sqrt(list_dot_product(cv::DOUBLE[], cv::DOUBLE[]))) AS cosine
        FROM cand),
      ranked AS (
        SELECT query_id, vec_id, cosine,
               row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        FROM scored)
      SELECT query_id, vec_id, round(cosine, 6) AS cosine_r, rank
      FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""",
    // IVF replay with the fixed planeComponent(p+100) centroids: max-dot
    // assignment (first-wins tie = ORDER BY s DESC, ci), nprobe=4 probes,
    // exact-cosine ranking.
    "q41_ann_ivf" -> """
      WITH cc AS (
        SELECT p - 100 AS ci, d,
          CAST(
            ((( (p*1000003 + d*7919 + 12345)::HUGEINT * 6364136223846793005 + 1442695040888963407)
               % 18446744073709551616::HUGEINT)
              * 6364136223846793005 + 1442695040888963407) % 18446744073709551616::HUGEINT
            // 2048 AS DOUBLE) / 4503599627370496.0 * 2.0 - 1.0 AS w
        FROM range(100,116) t1(p), range(0,64) t2(d)),
      cents AS (SELECT ci, list(w ORDER BY d) AS cv FROM cc GROUP BY ci),
      adot AS (
        SELECT e.vec_id, c.ci, list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv) AS s
        FROM embeddings e CROSS JOIN cents c),
      assigned AS (
        SELECT vec_id, ci AS lst FROM (
          SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn FROM adot)
        WHERE rn = 1),
      qprobes AS (
        SELECT vec_id AS query_id, ci AS lst FROM (
          SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn
          FROM adot WHERE vec_id < 5)
        WHERE rn <= 4),
      cand AS (
        SELECT p.query_id, a.vec_id FROM qprobes p JOIN assigned a ON p.lst = a.lst),
      scored AS (
        SELECT c.query_id, c.vec_id,
               list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS cosine
        FROM cand c JOIN embeddings q ON c.query_id = q.vec_id
        JOIN embeddings e ON c.vec_id = e.vec_id),
      ranked AS (
        SELECT query_id, vec_id, cosine,
               row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        FROM scored)
      SELECT query_id, vec_id, round(cosine, 6) AS cosine_r, rank
      FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""",
    // Banded-hyperplane near-dup replay: 24-bit signature via the same LCG,
    // 4 bands of 6 bits, per-band bucket self-join, pair dedup, exact cosine.
    "q30_embedding_neardup" -> """
      WITH pc AS (
        SELECT p, d,
          CAST(
            ((( (p*1000003 + d*7919 + 12345)::HUGEINT * 6364136223846793005 + 1442695040888963407)
               % 18446744073709551616::HUGEINT)
              * 6364136223846793005 + 1442695040888963407) % 18446744073709551616::HUGEINT
            // 2048 AS DOUBLE) / 4503599627370496.0 * 2.0 - 1.0 AS w
        FROM range(0,24) t1(p), range(0,64) t2(d)),
      pvec AS (SELECT p, list(w ORDER BY d) AS pw FROM pc GROUP BY p),
      sig AS (
        SELECT e.vec_id,
               SUM(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), v.pw) > 0
                        THEN (1::BIGINT << v.p) ELSE 0 END)::BIGINT AS sig
        FROM embeddings e CROSS JOIN pvec v GROUP BY e.vec_id),
      banded AS (
        SELECT vec_id, b.band, (sig >> (b.band * 6)) & 63 AS key
        FROM sig, (SELECT unnest([0,1,2,3]) AS band) b),
      cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
      scored AS (
        SELECT c.id_a, c.id_b,
               list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(x.embedding::DOUBLE[], x.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(y.embedding::DOUBLE[], y.embedding::DOUBLE[]))) AS cosine
        FROM cand c JOIN embeddings x ON c.id_a = x.vec_id
        JOIN embeddings y ON c.id_b = y.vec_id)
      SELECT id_a, id_b, round(cosine, 6) AS cosine_r
      FROM scored WHERE cosine >= 0.1 ORDER BY id_a, id_b""",
    // Stub-featurize replay: byte-arithmetic decode (see the query comment);
    // valid because documents.text is ASCII (byte index == char index,
    // octet_length == length). k/1024 is exact in float AND double, and
    // DuckDB's VARCHAR cast of the rounded double matches Spark to_json's
    // shortest-round-trip form (verified value-equal at sf0.01).
    "q34_media_featurize" -> """
      WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents),
      px AS (
        SELECT doc_id, j,
               CASE WHEN len = 0 THEN 0
                    ELSE ord(substr(text, CAST((j * 2654435761) % len AS INTEGER) + 1, 1)) END AS b
        FROM d, (SELECT unnest(range(0, 64)) AS j)),
      emb AS (
        SELECT doc_id, j // 4 AS dd, sum(b) AS k
        FROM px GROUP BY doc_id, j // 4),
      js AS (
        SELECT doc_id,
               '[' || string_agg(CAST(round(k / 1024.0, 6) AS VARCHAR), ',' ORDER BY dd) || ']' AS embedding_json
        FROM emb GROUP BY doc_id)
      SELECT d.doc_id AS media_id, CAST(d.len AS INTEGER) AS n_bytes, js.embedding_json
      FROM d JOIN js ON d.doc_id = js.doc_id
      ORDER BY media_id""",
    // Unigram-NLL replay: corpus token counts, −ln(count/total), per-doc
    // mean rounded to 6.
    "q94_unigram_nll" -> """
      WITH terms AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS token
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      counts AS (SELECT token, count(*) AS c FROM terms GROUP BY token),
      total AS (SELECT sum(c) AS t FROM counts)
      SELECT terms.doc_id, count(*) AS n_tokens,
             round(avg(-ln(CAST(counts.c AS DOUBLE) / CAST(total.t AS DOUBLE))), 6) AS nll_r
      FROM terms JOIN counts USING (token) CROSS JOIN total
      GROUP BY terms.doc_id
      ORDER BY doc_id""",
    // Bigram-NLL replay: bigram counts, prefix counts, vocab size, add-one
    // smoothed conditional mean.
    "q95_bigram_nll" -> """
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS ts
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      bg AS (
        SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
        FROM toks, LATERAL (SELECT unnest(range(1, len(ts))) AS i)
        WHERE len(ts) >= 2),
      c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
      c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
      v AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(ts) AS t FROM toks))
      SELECT bg.doc_id, count(*) AS n_bigrams,
             round(avg(-ln((CAST(c2.c2 AS DOUBLE) + 1.0)
               / (CAST(c1.c1 AS DOUBLE) + CAST(v.v AS DOUBLE)))), 6) AS nll_r
      FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
      GROUP BY bg.doc_id
      ORDER BY doc_id""",
    // BPE pair-count replay: word-frequency vocab, adjacent char pairs via
    // LATERAL position unnest, weighted sums, same deterministic top-100.
    "q173_kn_ppl" -> """
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS ts
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      bg_all AS (
        SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
        FROM toks, LATERAL (SELECT unnest(range(1, len(ts))) AS i)
        WHERE len(ts) >= 2),
      tr AS (SELECT * FROM bg_all WHERE doc_id % 10 <> 0),
      bi AS (SELECT w1, w2, count(*) AS c2 FROM tr GROUP BY 1, 2),
      lft AS (SELECT w1, sum(c2) AS c1, count(*) AS nf FROM bi GROUP BY 1),
      cont AS (SELECT w2, count(*) AS nl FROM bi GROUP BY 1),
      tot AS (SELECT (SELECT count(*) FROM bi) AS t,
                     (SELECT count(DISTINCT u) FROM
                        (SELECT unnest(ts) AS u FROM toks WHERE doc_id % 10 <> 0)) AS v),
      scored AS (
        SELECT s.doc_id,
          CASE WHEN lft.c1 IS NOT NULL THEN
            greatest(CAST(coalesce(bi.c2, 0) AS DOUBLE) - 0.75, 0.0) / lft.c1
            + 0.75 * lft.nf / lft.c1
              * (CAST(coalesce(cont.nl, 0) AS DOUBLE) + 1.0) / (tot.t + tot.v + 1.0)
          ELSE (CAST(coalesce(cont.nl, 0) AS DOUBLE) + 1.0) / (tot.t + tot.v + 1.0)
          END AS p
        FROM bg_all s
        LEFT JOIN bi USING (w1, w2)
        LEFT JOIN lft USING (w1)
        LEFT JOIN cont USING (w2)
        CROSS JOIN tot)
      SELECT doc_id, count(*) AS n_bigrams,
             round(avg(-ln(p)), 6) AS nll_r,
             round(exp(avg(-ln(p))), 3) AS ppl_r
      FROM scored GROUP BY doc_id ORDER BY doc_id""",
    // Moore-Lewis replay: q173's four KN count tables rebuilt PER LM (the
    // lm tag rides every grouping key), every doc scored under both models,
    // pivot + difference at the end. Rounding happens after the unrounded
    // difference, matching the Spark side exactly.
    "q181_moore_lewis" -> """
      WITH toks AS (
        SELECT doc_id, lang, regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS ts
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      bg_all AS (
        SELECT doc_id, lang, ts[i] AS w1, ts[i+1] AS w2
        FROM toks, LATERAL (SELECT unnest(range(1, len(ts))) AS i)
        WHERE len(ts) >= 2),
      lms(lm) AS (VALUES ('in'), ('gen')),
      tr AS (
        SELECT lm, w1, w2 FROM bg_all, lms
        WHERE doc_id % 10 <> 0 AND (lm = 'gen' OR lang = 'en')),
      bi AS (SELECT lm, w1, w2, count(*) AS c2 FROM tr GROUP BY 1, 2, 3),
      lft AS (SELECT lm, w1, sum(c2) AS c1, count(*) AS nf FROM bi GROUP BY 1, 2),
      cont AS (SELECT lm, w2, count(*) AS nl FROM bi GROUP BY 1, 2),
      ty AS (SELECT lm, count(*) AS t FROM bi GROUP BY 1),
      vo AS (SELECT lm, count(DISTINCT u) AS v FROM
               (SELECT lm, unnest(ts) AS u FROM toks, lms
                WHERE doc_id % 10 <> 0 AND (lm = 'gen' OR lang = 'en'))
             GROUP BY lm),
      tot AS (SELECT lm, t, v FROM ty JOIN vo USING (lm)),
      scored AS (
        SELECT s.doc_id, lms.lm,
          CASE WHEN lft.c1 IS NOT NULL THEN
            greatest(CAST(coalesce(bi.c2, 0) AS DOUBLE) - 0.75, 0.0) / lft.c1
            + 0.75 * lft.nf / lft.c1
              * (CAST(coalesce(cont.nl, 0) AS DOUBLE) + 1.0) / (tot.t + tot.v + 1.0)
          ELSE (CAST(coalesce(cont.nl, 0) AS DOUBLE) + 1.0) / (tot.t + tot.v + 1.0)
          END AS p
        FROM bg_all s CROSS JOIN lms
        LEFT JOIN bi ON bi.lm = lms.lm AND bi.w1 = s.w1 AND bi.w2 = s.w2
        LEFT JOIN lft ON lft.lm = lms.lm AND lft.w1 = s.w1
        LEFT JOIN cont ON cont.lm = lms.lm AND cont.w2 = s.w2
        JOIN tot ON tot.lm = lms.lm),
      per AS (SELECT doc_id, lm, count(*) AS nb, avg(-ln(p)) AS nll
              FROM scored GROUP BY 1, 2)
      SELECT doc_id, CAST(max(nb) AS BIGINT) AS n_bigrams,
             round(max(CASE WHEN lm = 'in' THEN nll END), 6) AS nll_in_r,
             round(max(CASE WHEN lm = 'gen' THEN nll END), 6) AS nll_gen_r,
             round(max(CASE WHEN lm = 'in' THEN nll END)
                   - max(CASE WHEN lm = 'gen' THEN nll END), 6) AS ce_diff_r
      FROM per GROUP BY doc_id ORDER BY doc_id""",
    // Winnowing replay: q31's rolling-hash comprehension at k=8, window
    // minima with the rightmost-tie rule via list_reverse position, DISTINCT
    // for the consecutive-selection dedup (selections of a position are
    // provably consecutive).
    "q180_incremental_winnow" -> """
      WITH src AS (
        SELECT 's' AS side, doc_id, text FROM documents WHERE doc_id % 5 <> 0
        UNION ALL
        SELECT 'b', doc_id + 40000, text FROM documents WHERE doc_id % 5 = 1
        UNION ALL
        SELECT 'b', doc_id + 20000, text FROM documents WHERE doc_id % 5 = 0),
      h AS (
        SELECT side, doc_id,
          [list_reduce([CAST(0 AS BIGINT)] || [CAST(ord(text[i+j]) AS BIGINT) for j in range(0, 8)],
                       (acc, c) -> (acc * 257 + c) % 2147483647)
           for i in range(1, length(text) - 8 + 2)] AS hs
        FROM src WHERE length(text) >= 15),
      wins AS (
        SELECT side, doc_id, p, hs[p+1 : p+8] AS win
        FROM h, LATERAL (SELECT unnest(range(0, len(hs) - 8 + 1)) AS p)),
      sel AS (
        SELECT DISTINCT side, doc_id, list_min(win) AS fp FROM wins),
      bfp AS (SELECT doc_id, fp FROM sel WHERE side = 'b'),
      sfp AS (SELECT doc_id, fp FROM sel WHERE side = 's'),
      touched AS (SELECT * FROM sfp WHERE fp IN (SELECT fp FROM bfp)),
      occ AS (SELECT fp, doc_id FROM touched UNION ALL SELECT fp, doc_id FROM bfp),
      ok AS (SELECT fp FROM occ GROUP BY fp HAVING count(DISTINCT doc_id) <= 2000),
      m AS (
        SELECT b.doc_id AS batch_id, t.doc_id AS stored_id, count(*) AS shared
        FROM bfp b JOIN ok USING (fp) JOIN touched t USING (fp)
        GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT batch_id, stored_id, CAST(shared AS BIGINT) AS shared
      FROM m ORDER BY batch_id, stored_id""",
    "q179_winnow" -> """
      WITH h AS (
        SELECT doc_id,
          [list_reduce([CAST(0 AS BIGINT)] || [CAST(ord(text[i+j]) AS BIGINT) for j in range(0, 8)],
                       (acc, c) -> (acc * 257 + c) % 2147483647)
           for i in range(1, length(text) - 8 + 2)] AS hs
        FROM documents WHERE length(text) >= 15),
      wins AS (
        SELECT doc_id, p, hs[p+1 : p+8] AS win
        FROM h, LATERAL (SELECT unnest(range(0, len(hs) - 8 + 1)) AS p)),
      sel AS (
        SELECT DISTINCT doc_id,
          p + 8 - list_position(list_reverse(win), list_min(win)) AS pos,
          list_min(win) AS fp
        FROM wins)
      SELECT doc_id, CAST(pos AS BIGINT) AS pos, fp
      FROM sel ORDER BY doc_id, pos""",
    "q178_span_corrupt" -> """
      WITH base AS (
        SELECT doc_id,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') END AS t
        FROM documents),
      pos AS (
        SELECT doc_id, i - 1 AS p, t[i] AS tok
        FROM base, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)),
      n AS (SELECT doc_id, count(*) AS n_tokens FROM pos GROUP BY 1),
      anch AS (
        SELECT p.doc_id, p.p AS s,
               least(p.p + 1 + (CAST(('0x' || substr(md5('sc1L|' || CAST(p.doc_id AS VARCHAR) || '|' || CAST(p.p AS VARCHAR)), 1, 6)) AS BIGINT) % 1000) % 5,
                     n.n_tokens) AS e
        FROM pos p JOIN n USING (doc_id)
        WHERE CAST(('0x' || substr(md5('sc1A|' || CAST(p.doc_id AS VARCHAR) || '|' || CAST(p.p AS VARCHAR)), 1, 6)) AS BIGINT) % 1000 < 60),
      isl0 AS (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM anch),
      isl AS (
        SELECT doc_id, s, e,
               sum(CASE WHEN pm IS NULL OR s >= pm THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS island
        FROM isl0),
      mrg AS (
        SELECT doc_id, island, min(s) AS ms, max(e) AS me FROM isl GROUP BY 1, 2),
      mrg2 AS (
        SELECT doc_id, ms, me,
               row_number() OVER (PARTITION BY doc_id ORDER BY ms) - 1 AS k
        FROM mrg),
      cov AS (
        SELECT doc_id, k, ms + o AS cp, (o = 0) AS st
        FROM mrg2, LATERAL (SELECT unnest(range(0, me - ms)) AS o)),
      pc AS (
        SELECT p.doc_id, p.p,
               CASE WHEN c.k IS NULL THEN p.tok
                    WHEN c.st THEN '<extra_id_' || CAST(c.k AS VARCHAR) || '>'
                    ELSE NULL END AS inp,
               CASE WHEN c.k IS NULL THEN NULL
                    WHEN c.st THEN '<extra_id_' || CAST(c.k AS VARCHAR) || '> ' || p.tok
                    ELSE p.tok END AS tgt
        FROM pos p LEFT JOIN cov c ON p.doc_id = c.doc_id AND p.p = c.cp)
      SELECT doc_id, count(*) AS n_tokens,
             count(*) FILTER (WHERE tgt IS NOT NULL) AS n_corrupt,
             count(*) FILTER (WHERE inp IS NOT NULL AND tgt IS NOT NULL) AS n_spans,
             COALESCE(string_agg(inp, ' ' ORDER BY p) FILTER (WHERE inp IS NOT NULL), '') AS inputs,
             COALESCE(string_agg(tgt, ' ' ORDER BY p) FILTER (WHERE tgt IS NOT NULL), '') AS targets
      FROM pc GROUP BY doc_id ORDER BY doc_id""",
    "q177_kn_trigram" -> """
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS ts
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      tg_all AS (
        SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2, ts[i+2] AS w3
        FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 1)) AS i)
        WHERE len(ts) >= 3),
      tr3 AS (SELECT * FROM tg_all WHERE doc_id % 10 <> 0),
      tri AS (SELECT w1, w2, w3, count(*) AS c3 FROM tr3 GROUP BY 1, 2, 3),
      l12 AS (SELECT w1, w2, sum(c3) AS c12, count(*) AS nf12 FROM tri GROUP BY 1, 2),
      m23 AS (SELECT w2, w3, count(*) AS n1p23 FROM tri GROUP BY 1, 2),
      mw2 AS (SELECT w2, count(*) AS n1pw2 FROM tri GROUP BY 1),
      bg_all AS (
        SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
        FROM toks, LATERAL (SELECT unnest(range(1, len(ts))) AS i)
        WHERE len(ts) >= 2),
      bi AS (SELECT w1, w2, count(*) AS c2 FROM bg_all
             WHERE doc_id % 10 <> 0 GROUP BY 1, 2),
      nfb AS (SELECT w1 AS nf_w, count(*) AS nfw2 FROM bi GROUP BY 1),
      contb AS (SELECT w2 AS ct_w, count(*) AS nl3 FROM bi GROUP BY 1),
      tot AS (SELECT (SELECT count(*) FROM bi) AS t2,
                     (SELECT count(DISTINCT u) FROM
                        (SELECT unnest(ts) AS u FROM toks WHERE doc_id % 10 <> 0)) AS v),
      scored AS (
        SELECT s.doc_id,
          CASE WHEN l12.c12 IS NOT NULL THEN
            greatest(CAST(coalesce(tri.c3, 0) AS DOUBLE) - 0.75, 0.0) / l12.c12
            + 0.75 * l12.nf12 / l12.c12 *
              (CASE WHEN mw2.n1pw2 IS NOT NULL THEN
                 greatest(CAST(coalesce(m23.n1p23, 0) AS DOUBLE) - 0.75, 0.0) / mw2.n1pw2
                 + 0.75 * CAST(coalesce(nfb.nfw2, 0) AS DOUBLE) / mw2.n1pw2
                   * (CAST(coalesce(contb.nl3, 0) AS DOUBLE) + 1.0) / (tot.t2 + tot.v + 1.0)
               ELSE (CAST(coalesce(contb.nl3, 0) AS DOUBLE) + 1.0) / (tot.t2 + tot.v + 1.0) END)
          ELSE
            (CASE WHEN mw2.n1pw2 IS NOT NULL THEN
               greatest(CAST(coalesce(m23.n1p23, 0) AS DOUBLE) - 0.75, 0.0) / mw2.n1pw2
               + 0.75 * CAST(coalesce(nfb.nfw2, 0) AS DOUBLE) / mw2.n1pw2
                 * (CAST(coalesce(contb.nl3, 0) AS DOUBLE) + 1.0) / (tot.t2 + tot.v + 1.0)
             ELSE (CAST(coalesce(contb.nl3, 0) AS DOUBLE) + 1.0) / (tot.t2 + tot.v + 1.0) END)
          END AS p
        FROM tg_all s
        LEFT JOIN tri USING (w1, w2, w3)
        LEFT JOIN l12 USING (w1, w2)
        LEFT JOIN m23 USING (w2, w3)
        LEFT JOIN mw2 USING (w2)
        LEFT JOIN nfb ON s.w2 = nfb.nf_w
        LEFT JOIN contb ON s.w3 = contb.ct_w
        CROSS JOIN tot)
      SELECT doc_id, count(*) AS n_trigrams,
             round(avg(-ln(p)), 6) AS nll_r,
             round(exp(avg(-ln(p))), 3) AS ppl_r
      FROM scored GROUP BY doc_id ORDER BY doc_id""",
    "q175_ccnet_buckets" -> """
      WITH toks AS (
        SELECT doc_id, lang, regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS ts
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      bg AS (
        SELECT doc_id, lang, ts[i] AS w1, ts[i+1] AS w2
        FROM toks, LATERAL (SELECT unnest(range(1, len(ts))) AS i)
        WHERE len(ts) >= 2),
      bi AS (SELECT lang, w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2, 3),
      lft AS (SELECT lang, w1, sum(c2) AS c1, count(*) AS nf FROM bi GROUP BY 1, 2),
      cont AS (SELECT lang, w2, count(*) AS nl FROM bi GROUP BY 1, 2),
      tot AS (SELECT lang, count(*) AS t FROM bi GROUP BY 1),
      voc AS (SELECT lang, count(DISTINCT u) AS v FROM
                (SELECT lang, unnest(ts) AS u FROM toks) GROUP BY 1),
      scored AS (
        SELECT s.doc_id, s.lang,
          CASE WHEN lft.c1 IS NOT NULL THEN
            greatest(CAST(coalesce(bi.c2, 0) AS DOUBLE) - 0.75, 0.0) / lft.c1
            + 0.75 * lft.nf / lft.c1
              * (CAST(coalesce(cont.nl, 0) AS DOUBLE) + 1.0) / (tot.t + voc.v + 1.0)
          ELSE (CAST(coalesce(cont.nl, 0) AS DOUBLE) + 1.0) / (tot.t + voc.v + 1.0)
          END AS p
        FROM bg s
        LEFT JOIN bi USING (lang, w1, w2)
        LEFT JOIN lft USING (lang, w1)
        LEFT JOIN cont USING (lang, w2)
        LEFT JOIN tot USING (lang)
        LEFT JOIN voc USING (lang)),
      ppl AS (
        SELECT doc_id, lang, count(*) AS n_bigrams,
               round(exp(avg(-ln(p))), 3) AS ppl_r
        FROM scored GROUP BY 1, 2)
      SELECT doc_id, lang, n_bigrams, ppl_r,
             CAST(ntile(3) OVER (PARTITION BY lang ORDER BY ppl_r, doc_id) AS BIGINT) AS bucket
      FROM ppl ORDER BY doc_id""",
    "q96_bpe_pairs" -> """
      WITH words AS (
        SELECT unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS word
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      vocab AS (SELECT word, count(*) AS freq FROM words GROUP BY word),
      pairs AS (
        SELECT substr(word, i, 1) AS pair_left, substr(word, i + 1, 1) AS pair_right,
               sum(freq) AS cnt
        FROM vocab, LATERAL (SELECT unnest(range(1, len(word))) AS i)
        GROUP BY 1, 2)
      SELECT pair_left, pair_right, CAST(cnt AS BIGINT) AS cnt
      FROM pairs
      ORDER BY cnt DESC, pair_left, pair_right
      LIMIT 100""",
    // BPE merge replay: each symbol wrapped as '|s|' and concatenated, so
    // merge (l,r) is replace('|l||r|' -> '|lr|') — SQL replace's
    // non-overlapping left-to-right scan matches the BPE greedy pass
    // ('|a||a||a|' -> '|aa||a|'), and the wrapping pipes make mid-symbol
    // false matches impossible. Merges applied in the same fixed order.
    "q97_bpe_segment" -> """
      WITH words AS (
        SELECT unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS word
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      vocab AS (SELECT word, count(*) AS freq FROM words GROUP BY word),
      enc AS (SELECT word, freq,
                '|' || array_to_string(regexp_split_to_array(word, ''), '||') || '|' AS s
              FROM vocab),
      m AS (SELECT word, freq,
              replace(replace(replace(s,
                '|t||a|', '|ta|'),
                '|b||l|', '|bl|'),
                '|bl||e|', '|ble|') AS s
            FROM enc)
      SELECT word, CAST(freq AS BIGINT) AS freq,
             replace(trim(s, '|'), '||', ' ') AS seg
      FROM m ORDER BY word""",
    // BPE train-then-encode replay: 4 unrolled training stages (per stage:
    // adjacent-pair counts from the pipe-wrapped symbol strings, argmax
    // under (cnt DESC, l, r) — DuckDB's binary UTF-8 string order matches
    // Spark's — then replace-merge), then per-word segments joined back to
    // document word positions.
    "q99_bpe_encode" -> """
      WITH docs AS (
        SELECT doc_id,
               regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS wa
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      vocab AS (
        SELECT word, count(*) AS freq
        FROM (SELECT unnest(wa) AS word FROM docs) GROUP BY word),
      v0 AS (SELECT word, freq,
               '|' || array_to_string(regexp_split_to_array(word, ''), '||') || '|' AS s
             FROM vocab),
      p1 AS (SELECT a[i] AS l, a[i+1] AS r, sum(freq) AS cnt
             FROM (SELECT freq, regexp_split_to_array(trim(s, '|'), '\|\|') AS a FROM v0),
                  LATERAL (SELECT unnest(range(1, len(a))) AS i)
             GROUP BY 1, 2),
      b1 AS (SELECT l, r FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
      v1 AS (SELECT word, freq,
               replace(s, '|'||b1.l||'||'||b1.r||'|', '|'||b1.l||b1.r||'|') AS s
             FROM v0, b1),
      p2 AS (SELECT a[i] AS l, a[i+1] AS r, sum(freq) AS cnt
             FROM (SELECT freq, regexp_split_to_array(trim(s, '|'), '\|\|') AS a FROM v1),
                  LATERAL (SELECT unnest(range(1, len(a))) AS i)
             GROUP BY 1, 2),
      b2 AS (SELECT l, r FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
      v2 AS (SELECT word, freq,
               replace(s, '|'||b2.l||'||'||b2.r||'|', '|'||b2.l||b2.r||'|') AS s
             FROM v1, b2),
      p3 AS (SELECT a[i] AS l, a[i+1] AS r, sum(freq) AS cnt
             FROM (SELECT freq, regexp_split_to_array(trim(s, '|'), '\|\|') AS a FROM v2),
                  LATERAL (SELECT unnest(range(1, len(a))) AS i)
             GROUP BY 1, 2),
      b3 AS (SELECT l, r FROM p3 ORDER BY cnt DESC, l, r LIMIT 1),
      v3 AS (SELECT word, freq,
               replace(s, '|'||b3.l||'||'||b3.r||'|', '|'||b3.l||b3.r||'|') AS s
             FROM v2, b3),
      p4 AS (SELECT a[i] AS l, a[i+1] AS r, sum(freq) AS cnt
             FROM (SELECT freq, regexp_split_to_array(trim(s, '|'), '\|\|') AS a FROM v3),
                  LATERAL (SELECT unnest(range(1, len(a))) AS i)
             GROUP BY 1, 2),
      b4 AS (SELECT l, r FROM p4 ORDER BY cnt DESC, l, r LIMIT 1),
      v4 AS (SELECT word, freq,
               replace(s, '|'||b4.l||'||'||b4.r||'|', '|'||b4.l||b4.r||'|') AS s
             FROM v3, b4),
      segv AS (SELECT word, replace(trim(s, '|'), '||', ' ') AS seg FROM v4),
      docw AS (SELECT doc_id, i, wa[i] AS word
               FROM docs, LATERAL (SELECT unnest(range(1, len(wa) + 1)) AS i))
      SELECT d.doc_id, string_agg(sv.seg, ' / ' ORDER BY d.i) AS enc
      FROM docw d JOIN segv sv USING (word)
      GROUP BY d.doc_id ORDER BY doc_id""",
    // Mixture replay: same rate arithmetic (literals forced to DOUBLE — the
    // Spark side computes the normalized weights in binary floating point,
    // and DuckDB's default DECIMAL literals would differ) + same salted md5
    // cutoff.
    "q92_domain_mixture" -> """
      WITH t AS (
        SELECT doc_id, lang,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                    ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tokens
        FROM documents),
      tg AS (SELECT lang, sum(n_tokens) AS tgt FROM t GROUP BY lang),
      r0 AS (SELECT lang, tgt,
               CASE lang
                 WHEN 'en' THEN CAST(0.4 AS DOUBLE) / (CAST(0.4 AS DOUBLE) + CAST(0.3 AS DOUBLE) + CAST(0.3 AS DOUBLE))
                 WHEN 'de' THEN CAST(0.3 AS DOUBLE) / (CAST(0.4 AS DOUBLE) + CAST(0.3 AS DOUBLE) + CAST(0.3 AS DOUBLE))
                 WHEN 'fr' THEN CAST(0.3 AS DOUBLE) / (CAST(0.4 AS DOUBLE) + CAST(0.3 AS DOUBLE) + CAST(0.3 AS DOUBLE))
                 ELSE CAST(0.0 AS DOUBLE) END AS f
             FROM tg),
      r1 AS (SELECT lang, f / CAST(tgt AS DOUBLE) AS ratio FROM r0 WHERE f > 0 AND tgt > 0),
      r AS (SELECT lang, ratio / (SELECT max(ratio) FROM r1) AS rate FROM r1)
      SELECT t.doc_id, t.lang, CAST(t.n_tokens AS BIGINT) AS n_tokens,
             round(r.rate, 6) AS rate_r
      FROM t JOIN r ON t.lang = r.lang
      WHERE CAST(COALESCE(CAST(('0x' || substr(md5(t.lang || '|' || CAST(t.doc_id AS VARCHAR)), 1, 4)) AS INTEGER), 0) AS DOUBLE) < r.rate * 65536.0
      ORDER BY doc_id""",
    // Sequence-packing replay: same (md5-bucket, id) global order, exclusive
    // window cumsum, div/mod 512.
    "q91_sequence_packing" -> """
      WITH t AS (
        SELECT doc_id,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                    ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tokens
        FROM documents),
      b AS (SELECT doc_id, n_tokens,
              COALESCE(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER), 0) AS bkt
            FROM t),
      g AS (SELECT doc_id, n_tokens,
              COALESCE(sum(n_tokens) OVER (ORDER BY bkt, doc_id, n_tokens
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
            FROM b)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(goff // 512 AS BIGINT) AS seq_id,
             CAST(goff % 512 AS BIGINT) AS seq_offset
      FROM g ORDER BY doc_id""",
    // K-means-step replay: max-dot assignment against the fixed
    // planeComponent(p+100) centroids (same LCG CTE as q41), then per-cluster
    // count + per-dimension mean.
    "q89_kmeans_step" -> """
      WITH cc AS (
        SELECT p - 100 AS ci, d,
          CAST(
            ((( (p*1000003 + d*7919 + 12345)::HUGEINT * 6364136223846793005 + 1442695040888963407)
               % 18446744073709551616::HUGEINT)
              * 6364136223846793005 + 1442695040888963407) % 18446744073709551616::HUGEINT
            // 2048 AS DOUBLE) / 4503599627370496.0 * 2.0 - 1.0 AS w
        FROM range(100,116) t1(p), range(0,64) t2(d)),
      cents AS (SELECT ci, list(w ORDER BY d) AS cv FROM cc GROUP BY ci),
      adot AS (
        SELECT e.vec_id, c.ci, list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv) AS s
        FROM embeddings e CROSS JOIN cents c),
      assigned AS (
        SELECT vec_id, ci AS cluster FROM (
          SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn FROM adot)
        WHERE rn = 1),
      joined AS (
        SELECT a.cluster, e.embedding FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id)
      SELECT CAST(cluster AS INTEGER) AS cluster, CAST(count(*) AS BIGINT) AS n,
             CAST(t.d AS INTEGER) AS dim,
             round(avg(CAST(embedding[t.d + 1] AS DOUBLE)), 6) AS mean_r
      FROM joined, range(0, 64) t(d)
      GROUP BY cluster, t.d
      ORDER BY cluster, dim""",
    // SemDeDup replay: fixed-centroid assignment, within-cluster pairs,
    // exact cosine filter.
    "q90_semantic_dedup" -> """
      WITH cc AS (
        SELECT p - 100 AS ci, d,
          CAST(
            ((( (p*1000003 + d*7919 + 12345)::HUGEINT * 6364136223846793005 + 1442695040888963407)
               % 18446744073709551616::HUGEINT)
              * 6364136223846793005 + 1442695040888963407) % 18446744073709551616::HUGEINT
            // 2048 AS DOUBLE) / 4503599627370496.0 * 2.0 - 1.0 AS w
        FROM range(100,116) t1(p), range(0,64) t2(d)),
      cents AS (SELECT ci, list(w ORDER BY d) AS cv FROM cc GROUP BY ci),
      adot AS (
        SELECT e.vec_id, c.ci, list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv) AS s
        FROM embeddings e CROSS JOIN cents c),
      assigned AS (
        SELECT vec_id, ci AS cluster FROM (
          SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn FROM adot)
        WHERE rn = 1),
      pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM assigned a JOIN assigned b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
      scored AS (
        SELECT p.id_a, p.id_b,
               list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(x.embedding::DOUBLE[], x.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(y.embedding::DOUBLE[], y.embedding::DOUBLE[]))) AS cosine
        FROM pairs p JOIN embeddings x ON p.id_a = x.vec_id
        JOIN embeddings y ON p.id_b = y.vec_id)
      SELECT id_a, id_b, round(cosine, 6) AS cosine_r
      FROM scored WHERE cosine >= 0.2 ORDER BY id_a, id_b""",
    // Frame-sample replay: nFrames = len/64; strided indices 0,2,4,… are
    // re-numbered by posexplode position, every emitted frame is a full
    // 64-byte slice.
    "q35_frame_sample" -> """
      WITH d AS (SELECT doc_id, octet_length(encode(text)) // 64 AS n FROM documents),
      f AS (SELECT doc_id, CAST((n + 1) // 2 AS INTEGER) AS cnt FROM d WHERE n >= 1)
      SELECT doc_id AS media_id, CAST(unnest(range(0, cnt)) AS INTEGER) AS frame_no,
             CAST(64 AS INTEGER) AS frame_len
      FROM f ORDER BY media_id, frame_no""",
    // BM25 replay: tf over query-matched terms, df, doclen/avgdl (ALL docs,
    // token-less count 0), Lucene idf, same rounded-score + doc-id ranking.
    // The VALUES list mirrors TextQueries.Bm25Queries. q170 (persisted
    // index: build half + append half + search) must equal the same
    // from-scratch replay — the append-only no-drift contract.
    "q170_bm25_index" -> bm25OracleSql,
    "q205_forget_bm25" -> bm25ForgetOracle,
    "q206_forget_ann" -> ivfPqForgetOracle,
    // ExactSubstr replay: literal 40-char windows (substr), hot = any
    // window occurring >= 2 times corpus-wide (within-doc occurrences
    // count), coverage via LATERAL offsets, position-ordered rebuild.
    "q210_exact_substring_dedup" -> """
      WITH docs AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0
          THEN text || ' supercalifragilisticexpialidocious corporate-boilerplate appended-automatically'
          ELSE text END AS text FROM documents),
      starts AS (SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 40) AS g
        FROM docs, LATERAL (SELECT unnest(range(1, length(text) - 40 + 2)) AS i)
        WHERE length(text) >= 40),
      hot AS (SELECT g FROM starts GROUP BY g HAVING count(*) >= 2),
      cov AS (SELECT DISTINCT s.doc_id, s.i + o AS p
        FROM starts s JOIN hot USING (g), LATERAL (SELECT unnest(range(0, 40)) AS o)),
      chars AS (SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 1) AS ch
        FROM docs, LATERAL (SELECT unnest(range(1, length(text) + 1)) AS i)),
      kept AS (SELECT c.doc_id, c.i, c.ch FROM chars c
        ANTI JOIN cov ON c.doc_id = cov.doc_id AND c.i = cov.p),
      agg AS (SELECT doc_id, count(*) AS n_kept,
                string_agg(ch, '' ORDER BY i) AS txt FROM kept GROUP BY doc_id)
      SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
             CAST(length(d.text) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_masked,
             coalesce(agg.txt, '') AS scrubbed_text
      FROM docs d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""",
    // Keep-one replay: identical window machinery, but each hot window's
    // (doc, pos)-first start is exempt from coverage.
    "q211_exact_substring_keepone" -> """
      WITH docs AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0
          THEN text || ' supercalifragilisticexpialidocious corporate-boilerplate appended-automatically'
          ELSE text END AS text FROM documents WHERE doc_id % 2 = 0),
      starts AS (SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 40) AS g
        FROM docs, LATERAL (SELECT unnest(range(1, length(text) - 40 + 2)) AS i)
        WHERE length(text) >= 40),
      hot AS (SELECT g FROM starts GROUP BY g HAVING count(*) >= 2),
      masked AS (SELECT s.doc_id, s.i, s.g FROM (
          SELECT doc_id, i, g,
                 row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn
          FROM starts) s JOIN hot USING (g) WHERE s.rn > 1),
      cov AS (SELECT DISTINCT m.doc_id, m.i + o AS p
        FROM masked m, LATERAL (SELECT unnest(range(0, 40)) AS o)),
      chars AS (SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 1) AS ch
        FROM docs, LATERAL (SELECT unnest(range(1, length(text) + 1)) AS i)),
      kept AS (SELECT c.doc_id, c.i, c.ch FROM chars c
        ANTI JOIN cov ON c.doc_id = cov.doc_id AND c.i = cov.p),
      agg AS (SELECT doc_id, count(*) AS n_kept,
                string_agg(ch, '' ORDER BY i) AS txt FROM kept GROUP BY doc_id)
      SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
             CAST(length(d.text) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_masked,
             coalesce(agg.txt, '') AS scrubbed_text
      FROM docs d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""",
    // Incremental keep-one replay: the union corpus's window machinery
    // (identical to q211's), sliced to the batch third — the incremental
    // path must be invisible in the result.
    "q214_incremental_substring_dedup" -> """
      WITH docs AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0
          THEN text || ' supercalifragilisticexpialidocious corporate-boilerplate appended-automatically'
          ELSE text END AS text FROM documents),
      starts AS (SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 40) AS g
        FROM docs, LATERAL (SELECT unnest(range(1, length(text) - 40 + 2)) AS i)
        WHERE length(text) >= 40),
      hot AS (SELECT g FROM starts GROUP BY g HAVING count(*) >= 2),
      masked AS (SELECT s.doc_id, s.i, s.g FROM (
          SELECT doc_id, i, g,
                 row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn
          FROM starts) s JOIN hot USING (g) WHERE s.rn > 1),
      cov AS (SELECT DISTINCT m.doc_id, m.i + o AS p
        FROM masked m, LATERAL (SELECT unnest(range(0, 40)) AS o)),
      chars AS (SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 1) AS ch
        FROM docs, LATERAL (SELECT unnest(range(1, length(text) + 1)) AS i)),
      kept AS (SELECT c.doc_id, c.i, c.ch FROM chars c
        ANTI JOIN cov ON c.doc_id = cov.doc_id AND c.i = cov.p),
      agg AS (SELECT doc_id, count(*) AS n_kept,
                string_agg(ch, '' ORDER BY i) AS txt FROM kept GROUP BY doc_id)
      SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
             CAST(length(d.text) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_masked,
             coalesce(agg.txt, '') AS scrubbed_text
      FROM docs d LEFT JOIN agg USING (doc_id)
      WHERE d.doc_id % 3 = 0 ORDER BY d.doc_id""",
    // Gate-state replay: every hot 40-window's corpus count and
    // lexicographically-first (doc, pos) — order-independent, so it holds
    // whatever order the stream delivered the four groups in. min_by key
    // doc_id*2^20+i is collision-free (docs are far shorter than 2^20).
    "q215_streaming_substring_gate" -> """
      WITH docs AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0
          THEN text || ' supercalifragilisticexpialidocious corporate-boilerplate appended-automatically'
          ELSE text END AS text FROM documents WHERE doc_id % 2 = 0),
      starts AS (SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 40) AS g
        FROM docs, LATERAL (SELECT unnest(range(1, length(text) - 40 + 2)) AS i)
        WHERE length(text) >= 40),
      agg AS (SELECT g AS w, CAST(count(*) AS BIGINT) AS cnt,
              min(doc_id * 1048576 + i) AS fk
              FROM starts GROUP BY g)
      SELECT w, cnt,
             CAST(fk // 1048576 AS BIGINT) AS first_doc,
             CAST(fk % 1048576 AS BIGINT) AS first_pos
      FROM agg WHERE cnt >= 2 ORDER BY w""",
    // Never-contained replay: q215's window-state SQL over the SURVIVING
    // corpus only — deletion from the per-doc index must be
    // indistinguishable from never having ingested the forgotten docs.
    "q216_forget_substring_index" -> """
      WITH docs AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0
          THEN text || ' supercalifragilisticexpialidocious corporate-boilerplate appended-automatically'
          ELSE text END AS text FROM documents
          WHERE doc_id % 2 = 1 AND doc_id % 9 <> 0),
      starts AS (SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 40) AS g
        FROM docs, LATERAL (SELECT unnest(range(1, length(text) - 40 + 2)) AS i)
        WHERE length(text) >= 40),
      agg AS (SELECT g AS w, CAST(count(*) AS BIGINT) AS cnt,
              min(doc_id * 1048576 + i) AS fk
              FROM starts GROUP BY g)
      SELECT w, cnt,
             CAST(fk // 1048576 AS BIGINT) AS first_doc,
             CAST(fk % 1048576 AS BIGINT) AS first_pos
      FROM agg WHERE cnt >= 2 ORDER BY w""",
    // Daily-ops replay: plant twins, apply the row-level DQ predicate,
    // dedup = keep-min per (group, exact token set) — jaccard 0.999 on
    // <1000-token sets is set equality, and blocking on the group makes
    // resolution batch-order-free — then the forget predicate, then the
    // q190 deterministic Laplace draw over per-lang counts.
    "q209_daily_ops" -> """
      WITH ingest AS (
        SELECT doc_id, lang, n_chars, text FROM documents
        UNION ALL
        SELECT doc_id + 40000, lang, n_chars, text FROM documents WHERE doc_id % 20 = 0),
      cleansed AS (
        SELECT doc_id, lang, doc_id % 4 AS grp,
               CAST(list_sort(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS VARCHAR) AS ts
        FROM ingest WHERE n_chars >= 200),
      survivors AS (
        SELECT doc_id, lang FROM (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY grp, ts ORDER BY doc_id) AS rn
          FROM cleansed) WHERE rn = 1),
      final AS (SELECT * FROM survivors WHERE doc_id % 13 <> 0),
      g AS (SELECT lang, count(*) AS t FROM final GROUP BY lang),
      n AS (SELECT lang, t,
              (CAST(CAST(('0x' || substr(md5(md5('ops1') || coalesce(md5(lang), '~')), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS u
            FROM g)
      SELECT lang,
             round(t + (-2.0) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 6) AS noisy_count
      FROM n ORDER BY lang""",
    // Dataset-DQ replay: each staged group's compliance ratio and row count
    // (sums of 0/1 doubles are exact in any order, so the avg compares
    // bit-stable at 6dp).
    "q207_streaming_dataset_dq" -> """
      WITH g AS (SELECT o_orderkey % 4 AS grp, o_orderstatus FROM orders),
      m AS (SELECT grp,
              avg(CASE WHEN o_orderstatus IN ('O','F') THEN 1.0 ELSE 0.0 END) AS comp,
              count(*) AS n
            FROM g GROUP BY grp)
      SELECT grp, 'warn' AS tier,
             'ColumnValues ''o_orderstatus'' in [''O'',''F'']' AS rule,
             CASE WHEN comp = 1.0 THEN 'Passed' ELSE 'Failed' END AS outcome,
             round(comp, 6) AS metric_r
      FROM m
      UNION ALL
      SELECT grp, 'halt' AS tier, 'RowCount > 0' AS rule,
             CASE WHEN n > 0 THEN 'Passed' ELSE 'Failed' END AS outcome,
             round(CAST(n AS DOUBLE), 6) AS metric_r
      FROM m
      ORDER BY grp, tier, rule""",
    // Three-tier replay: every tier's per-group verdict plus the
    // quarantine row split (counts are exact; compliance avgs of 0/1
    // doubles are order-stable at 6dp).
    "q212_streaming_ruleset_dq" -> """
      WITH g AS (SELECT o_orderkey % 4 AS grp, o_orderstatus, o_totalprice FROM orders),
      m AS (SELECT grp,
              avg(CASE WHEN o_orderstatus IN ('O','F') THEN 1.0 ELSE 0.0 END) AS wcomp,
              avg(CASE WHEN o_totalprice <= 300000 THEN 1.0 ELSE 0.0 END) AS qcomp,
              count(*) AS n,
              CAST(sum(CASE WHEN o_totalprice <= 300000 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
              CAST(sum(CASE WHEN o_totalprice > 300000 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined
            FROM g GROUP BY grp)
      SELECT grp, 'warn' AS tier,
             'ColumnValues ''o_orderstatus'' in [''O'',''F'']' AS rule,
             CASE WHEN wcomp = 1.0 THEN 'Passed' ELSE 'Failed' END AS outcome,
             round(wcomp, 6) AS metric_r, n_clean, n_quarantined
      FROM m
      UNION ALL
      SELECT grp, 'quarantine' AS tier,
             'ColumnValues ''o_totalprice'' <= 300000' AS rule,
             CASE WHEN qcomp = 1.0 THEN 'Passed' ELSE 'Failed' END AS outcome,
             round(qcomp, 6) AS metric_r, n_clean, n_quarantined
      FROM m
      UNION ALL
      SELECT grp, 'halt' AS tier, 'RowCount > 0' AS rule,
             CASE WHEN n > 0 THEN 'Passed' ELSE 'Failed' END AS outcome,
             round(CAST(n AS DOUBLE), 6) AS metric_r, n_clean, n_quarantined
      FROM m
      ORDER BY grp, tier, rule""",
    "q105_bm25" -> bm25OracleSql,
    "q182_hard_negatives" -> hardNegOracleSql,
  ) ++ lateOracles

  // shared by q105 (one-shot) and q170 (persisted index) — one replay, two
  // paths, no drift possible. Lazy: referenced from `oracles` above its
  // declaration point (object init order).
  // Shared BM25 scored-candidates CTE chain (through `scored`) — ONE SQL
  // replay of the arithmetic behind q105/q170/q182, mirroring the Scala
  // side's single scoredBm25 implementation.
  /** BM25 scored-candidate CTEs over `documents WHERE docPred` — the
    * parameterized form exists for the forget-propagation replay (q205):
    * "never contained the doc" is literally this CTE with the surviving-doc
    * predicate, since df/N/avgdl all derive from the filtered corpus. */
  private def bm25ScoredCteFor(docPred: String): String = s"""
      WITH q(query_id, qtext) AS (VALUES
        ('qa','spark join merge'), ('qb','customer order value'),
        ('qc','window agg batch'), ('qd','slow table scan')),
      qt AS (SELECT DISTINCT query_id, unnest(regexp_split_to_array(lower(trim(qtext)), '\\s+')) AS token FROM q),
      lens AS (SELECT doc_id, CASE WHEN regexp_replace(text, '^\\s+|\\s+$$', '', 'g') = '' THEN 0
        ELSE len(regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+')) END AS dl FROM documents WHERE ($docPred)),
      stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lens),
      terms AS (SELECT doc_id, unnest(regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+')) AS token
        FROM documents WHERE ($docPred) AND regexp_replace(text, '^\\s+|\\s+$$', '', 'g') <> ''),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM terms WHERE token IN (SELECT token FROM qt) GROUP BY 1, 2),
      dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      contrib AS (SELECT qt.query_id, tf.doc_id,
        ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS c
        FROM qt JOIN tf USING (token) JOIN dfq USING (token) JOIN lens USING (doc_id) CROSS JOIN stats),
      scored AS (SELECT query_id, doc_id, round(sum(c), 6) AS score_r FROM contrib GROUP BY 1, 2)"""

  private lazy val bm25ScoredCte: String = bm25ScoredCteFor("TRUE")

  /** Shared by q119 (from-scratch) and q213 (incremental over the split
    * halves): 3 unrolled fixed-point iterations over the FULL synthetic
    * graph — one replay, two paths, no drift possible. */
  private lazy val pagerankUnionOracleSql: String = """
      WITH n AS (SELECT max(doc_id) + 1 AS nn FROM documents),
      nodes AS (SELECT doc_id AS id FROM documents),
      edges AS (
        SELECT id AS src, (id * 2 + 1) % nn AS dst FROM nodes, n
        UNION ALL
        SELECT id, (id * 5 + 3) % nn FROM nodes, n),
      deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
      r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM nodes),
      c1 AS (SELECT e.dst, CAST(sum(r.pr // g.d) AS BIGINT) AS s FROM edges e
             JOIN deg g ON g.src = e.src JOIN r0 r ON r.id = e.src GROUP BY e.dst),
      r1 AS (SELECT nodes.id, CAST(150000 + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS pr
             FROM nodes LEFT JOIN c1 ON c1.dst = nodes.id),
      c2 AS (SELECT e.dst, CAST(sum(r.pr // g.d) AS BIGINT) AS s FROM edges e
             JOIN deg g ON g.src = e.src JOIN r1 r ON r.id = e.src GROUP BY e.dst),
      r2 AS (SELECT nodes.id, CAST(150000 + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS pr
             FROM nodes LEFT JOIN c2 ON c2.dst = nodes.id),
      c3 AS (SELECT e.dst, CAST(sum(r.pr // g.d) AS BIGINT) AS s FROM edges e
             JOIN deg g ON g.src = e.src JOIN r2 r ON r.id = e.src GROUP BY e.dst),
      r3 AS (SELECT nodes.id, CAST(150000 + (85 * COALESCE(c3.s, 0)) // 100 AS BIGINT) AS pr
             FROM nodes LEFT JOIN c3 ON c3.dst = nodes.id)
      SELECT id AS doc_id, pr FROM r3 ORDER BY doc_id"""

  private lazy val bm25RankedTail: String = """,
      ranked AS (SELECT query_id, doc_id, score_r,
        CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_r DESC, doc_id) AS BIGINT) AS "rank" FROM scored)
      SELECT query_id, doc_id, score_r, "rank" FROM ranked WHERE "rank" <= 10 ORDER BY query_id, "rank""""

  private lazy val bm25OracleSql: String = bm25ScoredCte + bm25RankedTail

  // q205: "an index that never contained the forgotten docs" is the SAME
  // scoring replay over the filtered corpus — df/N/avgdl shift with the
  // deletion, which is exactly what row-wise postings/length deletion gives.
  private lazy val bm25ForgetOracle: String =
    bm25ScoredCteFor("doc_id % 9 <> 0") + bm25RankedTail

  // Hard-negative replay: positives = the same ranking's top-2, negatives =
  // the scored candidates minus positives, re-ranked dense 1..10.
  private lazy val hardNegOracleSql: String = bm25ScoredCte + """,
      pos AS (SELECT query_id, doc_id FROM (
        SELECT query_id, doc_id,
          row_number() OVER (PARTITION BY query_id ORDER BY score_r DESC, doc_id) AS r
        FROM scored) WHERE r <= 2),
      neg AS (SELECT s.query_id, s.doc_id, s.score_r
        FROM scored s ANTI JOIN pos ON s.query_id = pos.query_id AND s.doc_id = pos.doc_id),
      ranked AS (SELECT query_id, doc_id, score_r,
        CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_r DESC, doc_id) AS BIGINT) AS "rank" FROM neg)
      SELECT query_id, doc_id, score_r, "rank" FROM ranked WHERE "rank" <= 10 ORDER BY query_id, "rank""""

  private lazy val lateOracles: Map[String, String] = Map(
    // DSIR replay: md5 token buckets mod 64, add-one smoothed target/source
    // models, per-doc weighted sums, md5-derived Gumbel keys, top-100.
    "q106_dsir" -> """
      WITH toks AS (SELECT doc_id, lang = 'en' AS tgt,
          unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS token
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      b AS (SELECT doc_id, tgt, CAST(('0x' || substr(md5(token), 1, 4)) AS INTEGER) % 64 AS bk FROM toks),
      pb AS (SELECT bk, count(*) AS cs, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct FROM b GROUP BY bk),
      tot AS (SELECT sum(cs) AS ts, sum(ct) AS tt FROM pb),
      w AS (SELECT bk, ln((ct + 1.0) / (tt + 64.0)) - ln((cs + 1.0) / (ts + 64.0)) AS w FROM pb CROSS JOIN tot),
      dobk AS (SELECT doc_id, bk, count(*) AS nn FROM b GROUP BY 1, 2),
      sc AS (SELECT doc_id, sum(nn * w) AS logw FROM dobk JOIN w USING (bk) GROUP BY doc_id),
      keyed AS (SELECT doc_id, round(logw, 6) AS logw_r,
        round(logw - ln(-ln((CAST(('0x' || substr(md5('dsir|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) + 0.5) / 65536.0)), 6) AS key_r
        FROM sc),
      ranked AS (SELECT doc_id, logw_r, key_r,
        CAST(row_number() OVER (ORDER BY key_r DESC, doc_id) AS BIGINT) AS "rank" FROM keyed)
      SELECT doc_id, logw_r, key_r, "rank" FROM ranked WHERE "rank" <= 100 ORDER BY "rank"""",
    // Span-scrub replay: planted banner, md5 8-gram keys, hot = ≥2 distinct
    // docs, coverage via LATERAL offset range, anti-join rebuild in order.
    "q107_span_scrub" -> """
      WITH docs AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
          THEN text || ' subscribe to our newsletter for updates terms of service apply today'
          ELSE text END AS text FROM documents),
      toks AS (SELECT doc_id, CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
          ELSE regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') END AS ts FROM docs),
      grams AS (SELECT doc_id, i - 1 AS p, md5(array_to_string(ts[i:i+7], ' ')) AS gh
        FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 8 + 2)) AS i) WHERE len(ts) >= 8),
      hot AS (SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
      cov AS (SELECT DISTINCT g.doc_id, g.p + o AS cp FROM grams g JOIN hot USING (gh), LATERAL (SELECT unnest(range(0, 8)) AS o)),
      tok AS (SELECT doc_id, i - 1 AS p, ts[i] AS t FROM toks, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i)),
      kept AS (SELECT tok.doc_id, tok.p, tok.t FROM tok ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.cp),
      agg AS (SELECT doc_id, count(*) AS n_kept, string_agg(t, ' ' ORDER BY p) AS txt FROM kept GROUP BY doc_id)
      SELECT toks.doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
             CAST(len(ts) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
             coalesce(agg.txt, '') AS scrubbed_text
      FROM toks LEFT JOIN agg USING (doc_id) ORDER BY doc_id""",
    // Keep-one scrub replay: q107's pipeline plus a per-gram first-
    // occurrence exemption (row_number over (doc, pos)); the anti-join
    // removes only NON-first occurrences from coverage.
    "q176_span_scrub_keepone" -> """
      WITH docs AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
          THEN text || ' subscribe to our newsletter for updates terms of service apply today'
          ELSE text END AS text FROM documents),
      toks AS (SELECT doc_id, CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
          ELSE regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') END AS ts FROM docs),
      grams AS (SELECT doc_id, i - 1 AS p, md5(array_to_string(ts[i:i+7], ' ')) AS gh
        FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 8 + 2)) AS i) WHERE len(ts) >= 8),
      hot AS (SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
      occ AS (SELECT g.doc_id, g.p, g.gh,
                row_number() OVER (PARTITION BY g.gh ORDER BY g.doc_id, g.p) AS rn
              FROM grams g JOIN hot USING (gh)),
      scrub AS (SELECT doc_id, p FROM occ WHERE rn > 1),
      cov AS (SELECT DISTINCT s.doc_id, s.p + o AS cp FROM scrub s, LATERAL (SELECT unnest(range(0, 8)) AS o)),
      tok AS (SELECT doc_id, i - 1 AS p, ts[i] AS t FROM toks, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i)),
      kept AS (SELECT tok.doc_id, tok.p, tok.t FROM tok ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.cp),
      agg AS (SELECT doc_id, count(*) AS n_kept, string_agg(t, ' ' ORDER BY p) AS txt FROM kept GROUP BY doc_id)
      SELECT toks.doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
             CAST(len(ts) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
             coalesce(agg.txt, '') AS scrubbed_text
      FROM toks LEFT JOIN agg USING (doc_id) ORDER BY doc_id""",
    // Naive Bayes replay: priors, class-token counts, class totals, vocab
    // size, add-one smoothed per-(doc, class) sums, rounded argmax with
    // class-name tiebreak.
    "q108_nb_classifier" -> """
      WITH train AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
      tt AS (SELECT lang AS cls, unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS token
        FROM train WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      pri AS (SELECT lang AS cls, count(*) AS nd FROM train GROUP BY 1),
      ntot AS (SELECT count(*) AS n FROM train),
      cnts AS (SELECT cls, token, count(*) AS cnt FROM tt GROUP BY 1, 2),
      ctot AS (SELECT cls, count(*) AS tot FROM tt GROUP BY 1),
      v AS (SELECT count(DISTINCT token) AS v FROM tt),
      cls AS (SELECT pri.cls, coalesce(ctot.tot, 0) AS tot,
          ln(CAST(nd AS DOUBLE) / n) AS lnprior
        FROM pri LEFT JOIN ctot ON pri.cls = ctot.cls CROSS JOIN ntot),
      te AS (SELECT doc_id, lang, unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS token
        FROM documents WHERE doc_id % 2 <> 0 AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      sc AS (SELECT te.doc_id, te.lang, c.cls, any_value(c.lnprior) +
          sum(ln((coalesce(cnts.cnt, 0) + 1.0) / (c.tot + v.v))) AS score
        FROM te CROSS JOIN cls c
        LEFT JOIN cnts ON cnts.cls = c.cls AND cnts.token = te.token
        CROSS JOIN v
        GROUP BY te.doc_id, te.lang, c.cls, c.tot),
      rk AS (SELECT doc_id, lang, cls, round(score, 6) AS score_r,
          row_number() OVER (PARTITION BY doc_id ORDER BY round(score, 6) DESC, cls) AS r FROM sc)
      SELECT doc_id, lang, cls AS pred, score_r FROM rk WHERE r = 1 ORDER BY doc_id""",
    // Epoch-shard replay: md5('ep0|'||id) order hash, 16-bit prefix mod 8
    // shard, per-shard row numbering on (hash, id).
    "q109_epoch_shard" -> """
      WITH h AS (SELECT doc_id, md5('ep0|' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
      s AS (SELECT doc_id, CAST(CAST(('0x' || substr(h, 1, 4)) AS INTEGER) % 8 AS BIGINT) AS shard, h FROM h)
      SELECT doc_id, shard, CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
      FROM s ORDER BY shard, pos""",
    // KMV set-op replay: bottom-32 distinct-hash sets per (lang, half); the
    // union sample is the bottom-32 of the two sketches' hashes, membership
    // in a side ⇔ membership in its bottom-32 (KMV closure: any union-sample
    // hash is ≤ the side's 32nd smallest).
    "q129_kmv_setops" -> """
      WITH ts AS (
        SELECT lang, doc_id % 2 AS half, regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS a
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      g AS (SELECT lang, half, unnest([a[i] || ' ' || a[i+1] for i in range(1, len(a))]) AS v
            FROM ts WHERE len(a) >= 2),
      h AS (SELECT DISTINCT lang, half, CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS h FROM g),
      rh AS (SELECT lang, half, h,
               row_number() OVER (PARTITION BY lang, half ORDER BY h) AS rn,
               count(*) OVER (PARTITION BY lang, half) AS nd
             FROM h),
      sk AS (SELECT lang, half, h, nd FROM rh WHERE rn <= 32),
      st AS (SELECT lang, half, least(max(nd), 32) AS n,
               CASE WHEN max(nd) < 32 THEN CAST(max(nd) AS DOUBLE)
                    ELSE 31.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE) END AS est
             FROM sk GROUP BY lang, half),
      uh AS (SELECT DISTINCT lang, h FROM sk),
      ru AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
               count(*) OVER (PARTITION BY lang) AS nd
             FROM uh),
      usk AS (SELECT lang, h, nd FROM ru WHERE rn <= 32),
      ust AS (SELECT u.lang,
               CASE WHEN max(u.nd) < 32 THEN CAST(least(max(u.nd), 32) AS DOUBLE)
                    ELSE 31.0 * 1152921504606846976.0 / CAST(max(u.h) AS DOUBLE) END AS est_u,
               CAST(sum(CASE WHEN ina.h IS NOT NULL AND inb.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) AS jacc
             FROM usk u
             LEFT JOIN (SELECT lang, h FROM sk WHERE half = 0) ina ON u.lang = ina.lang AND u.h = ina.h
             LEFT JOIN (SELECT lang, h FROM sk WHERE half = 1) inb ON u.lang = inb.lang AND u.h = inb.h
             GROUP BY u.lang)
      SELECT a.lang,
             CAST(a.n AS BIGINT) AS na, CAST(b.n AS BIGINT) AS nb,
             round(a.est, 6) AS est_a_r, round(b.est, 6) AS est_b_r,
             round(u.est_u, 6) AS est_u_r, round(u.jacc, 6) AS jacc_r,
             round(u.jacc * u.est_u, 6) AS est_i_r
      FROM (SELECT * FROM st WHERE half = 0) a
      JOIN (SELECT * FROM st WHERE half = 1) b USING (lang)
      JOIN ust u USING (lang)
      ORDER BY a.lang""",
    // Canonicalization replay: q52's recursive-CTE components, then a window
    // argmax (n_chars DESC, doc_id) per component.
    "q130_cluster_canonical" -> """
      WITH toks AS (
        SELECT doc_id, lang, source,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) END AS t
        FROM documents),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM toks a JOIN toks b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
              / CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE) >= 0.5),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      rec AS (
        WITH RECURSIVE reach(v, l) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, reach.l FROM reach JOIN edges e ON e.src = reach.v)
        SELECT v, min(l) AS component FROM reach GROUP BY v),
      comp AS (
        SELECT d.doc_id, COALESCE(rec.component, d.doc_id) AS component, d.n_chars
        FROM documents d LEFT JOIN rec ON d.doc_id = rec.v),
      r AS (
        SELECT component, doc_id, n_chars,
               row_number() OVER (PARTITION BY component ORDER BY n_chars DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY component) AS nm
        FROM comp)
      SELECT component, doc_id AS canonical_id, n_chars, CAST(nm AS BIGINT) AS n_members
      FROM r WHERE rn = 1 ORDER BY component""",
    // Z-order replay: the same 8-bit interleave as Layout.mortonCode, dim 0
    // (user_id) at the even positions, dim 1 (event_id) at the odd.
    "q131_zorder" -> s"""
      SELECT event_id, user_id,
             ${mortonSqlExpr(Seq("user_id", "event_id"), 8)} AS zval
      FROM events ORDER BY zval, event_id""",
    // Attribution replay: q53's stage CTEs, labeled per doc.
    "q157_dedup_attribution" -> """
      WITH s1 AS (
        SELECT d.doc_id, d.lang, d.source, d.text FROM documents d
        JOIN (SELECT text, min(doc_id) AS keep FROM documents GROUP BY text) k
          ON d.doc_id = k.keep),
      s2 AS (
        SELECT d.doc_id, d.lang, d.source, d.text FROM s1 d
        JOIN (SELECT sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                     min(doc_id) AS keep
              FROM s1 GROUP BY 1) k
          ON d.doc_id = k.keep),
      toks AS (
        SELECT doc_id, lang, source,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE list_distinct(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) END AS t
        FROM s2),
      dups AS (
        SELECT DISTINCT b.doc_id FROM toks a JOIN toks b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) > 0
          AND CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
              / CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE) >= 0.7)
      SELECT d.doc_id,
             CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM s1) THEN 'exact'
                  WHEN d.doc_id NOT IN (SELECT doc_id FROM s2) THEN 'fingerprint'
                  WHEN d.doc_id IN (SELECT doc_id FROM dups) THEN 'jaccard'
                  ELSE 'kept' END AS stage
      FROM documents d ORDER BY d.doc_id""",
    // Dup-rate replay: same sha2 fingerprint + distinct ratio.
    "q153_dup_rate" -> """
      WITH f AS (SELECT source, sha256(trim(lower(text))) AS fp FROM documents)
      SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_unique,
             round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6) AS dup_rate_r
      FROM f GROUP BY source ORDER BY source""",
    // Correlation replay: exact integer moments, one float formula.
    "q154_length_quality_corr" -> """
      WITH b AS (SELECT lang, n_chars AS x,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS y
             FROM documents),
      m AS (SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
              sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
            FROM b GROUP BY 1)
      SELECT lang, CAST(n AS BIGINT) AS n,
             round(CASE WHEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                             sqrt(CAST(n * syy - sy * sy AS DOUBLE)) > 0
                        THEN CAST(n * sxy - sx * sy AS DOUBLE) /
                             (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                              sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                        ELSE 0.0 END, 6) AS pearson_r
      FROM m ORDER BY lang""",
    // Join-estimate replay: salted-md5 CMS counters for both sides, per-row
    // integer dot products, min over rows, plus the exact join count.
    "q152_join_estimate" -> """
      WITH rows_ AS (SELECT unnest(range(0, 4)) AS i),
      la AS (SELECT i,
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 256 AS bucket,
               count(*) AS c
             FROM lineitem, rows_ GROUP BY 1, 2),
      lb AS (SELECT i,
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 256 AS bucket,
               count(*) AS c
             FROM orders, rows_ GROUP BY 1, 2),
      dots AS (SELECT a.i, sum(a.c * b.c) AS dot
               FROM la a JOIN lb b ON a.i = b.i AND a.bucket = b.bucket
               GROUP BY a.i),
      est AS (SELECT min(dot) AS e FROM dots),
      truth AS (SELECT count(*) AS t FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      SELECT CAST(e AS BIGINT) AS est_join_rows, CAST(t AS BIGINT) AS true_join_rows
      FROM est, truth""",
    // Skew-report replay: counts, ascending rank-sum Gini, top-3 by
    // (count desc, key).
    "q147_key_skew" -> """
      WITH c AS (SELECT 's' || CAST(doc_id * doc_id % 13 AS VARCHAR) AS k, count(*) AS c
                 FROM documents GROUP BY 1),
      r AS (SELECT k, c, row_number() OVER (ORDER BY c, k) AS i FROM c),
      g AS (SELECT count(*) AS n_keys, sum(c) AS n_rows, max(c) AS max_count,
                   sum(i * c) AS s1 FROM r),
      t AS (SELECT k, c, row_number() OVER (ORDER BY c DESC, k) AS rnk FROM c)
      SELECT CAST(n_keys AS BIGINT) AS n_keys, CAST(n_rows AS BIGINT) AS n_rows,
             CAST(max_count AS BIGINT) AS max_count,
             round(2.0 * s1 / (n_keys * n_rows) - (n_keys + 1.0) / n_keys, 6) AS gini_r,
             (SELECT k FROM t WHERE rnk = 1) AS top1_key,
             (SELECT c FROM t WHERE rnk = 1) AS top1_n,
             (SELECT k FROM t WHERE rnk = 2) AS top2_key,
             (SELECT c FROM t WHERE rnk = 2) AS top2_n,
             (SELECT k FROM t WHERE rnk = 3) AS top3_key,
             (SELECT c FROM t WHERE rnk = 3) AS top3_n
      FROM g""",
    // HLL-merge replay: the FULL-corpus sketch per lang — merge ≡ union is
    // the property under test, so the oracle never sees the split.
    "q146_hll_merge" -> """
      WITH toks AS (
        SELECT lang, unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS v
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      h AS (SELECT DISTINCT lang, CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS h FROM toks),
      b AS (SELECT lang, h // 4503599627370496 AS bucket, h % 4503599627370496 AS w FROM h),
      r AS (SELECT lang, bucket,
              max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS rho
            FROM b GROUP BY 1, 2),
      g AS (SELECT lang, count(*) AS nonzero,
              sum(CAST(1 AS BIGINT) << (53 - rho)) + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS s_num
            FROM r GROUP BY 1),
      e AS (SELECT lang, nonzero, s_num, 256 - nonzero AS zeros,
              0.7213 / (1 + 1.079 / 256) * 256 * 256 * power(2.0, 53) / CAST(s_num AS DOUBLE) AS raw
            FROM g)
      SELECT lang, CAST(nonzero AS BIGINT) AS nonzero, CAST(s_num AS BIGINT) AS s_num,
             round(CASE WHEN zeros > 0 AND raw <= 640.0
                        THEN 256.0 * ln(256.0 / zeros) ELSE raw END, 4) AS est_r
      FROM e ORDER BY lang""",
    // Dropout replay: same per-position md5 coin, ordered rebuild.
    "q144_token_dropout" -> """
      WITH base AS (
        SELECT doc_id,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') END AS t
        FROM documents),
      pos AS (
        SELECT doc_id, i - 1 AS i, t[i] AS tok
        FROM base, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)),
      dec AS (
        SELECT doc_id, i, tok,
               CAST(('0x' || substr(md5('da1|' || CAST(doc_id AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 6)) AS BIGINT) % 1000 AS c
        FROM pos),
      agg AS (
        SELECT doc_id,
               count(*) FILTER (WHERE i = 0 OR c >= 150) AS n_kept,
               COALESCE(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE i = 0 OR c >= 150), '') AS text_aug
        FROM dec GROUP BY doc_id)
      SELECT b.doc_id, CAST(len(b.t) AS BIGINT) AS n_tokens,
             CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
             COALESCE(a.text_aug, '') AS text_aug
      FROM base b LEFT JOIN agg a USING (doc_id)
      ORDER BY b.doc_id""",
    // Upsample replay: per-doc copy range, same id arithmetic.
    "q145_upsample" -> """
      SELECT doc_id, lang, CAST(copy AS BIGINT) AS copy,
             doc_id * 4 + copy AS aug_id
      FROM documents, LATERAL (SELECT unnest(range(0, 1 + doc_id % 3)) AS copy)
      ORDER BY aug_id""",
    // Classifier-eval replay: q24's generated prediction CTE + the same
    // integer confusion counts and once-unrounded ratio arithmetic.
    "q142_classifier_eval" -> s"""
      WITH preds AS ($langIdOracle),
      j AS (SELECT d.lang AS cls, p.lang_pred AS pred
            FROM documents d JOIN preds p USING (doc_id)),
      cm AS (SELECT cls, pred, count(*) AS n FROM j GROUP BY 1, 2),
      classes AS (SELECT cls FROM cm UNION SELECT pred FROM cm),
      lt AS (SELECT cls, sum(n) AS support FROM cm GROUP BY 1),
      pt AS (SELECT pred AS cls, sum(n) AS predicted FROM cm GROUP BY 1),
      tp AS (SELECT cls, n AS tp FROM cm WHERE cls = pred),
      m AS (SELECT c.cls,
              COALESCE(lt.support, 0) AS support,
              COALESCE(pt.predicted, 0) AS predicted,
              COALESCE(tp.tp, 0) AS tp
            FROM classes c LEFT JOIN lt USING (cls)
            LEFT JOIN pt USING (cls) LEFT JOIN tp USING (cls)),
      pr AS (SELECT cls, support, predicted, tp,
               CASE WHEN predicted > 0 THEN CAST(tp AS DOUBLE) / predicted ELSE 0.0 END AS p,
               CASE WHEN support > 0 THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END AS r
             FROM m)
      SELECT cls, CAST(support AS BIGINT) AS support,
             CAST(predicted AS BIGINT) AS predicted, CAST(tp AS BIGINT) AS tp,
             round(p, 6) AS precision_r, round(r, 6) AS recall_r,
             round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END, 6) AS f1_r
      FROM pr ORDER BY cls""",
    // Diversity replay: token arithmetic totals + one distinct per n.
    "q143_ngram_diversity" -> """
      WITH base AS (
        SELECT source,
               CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN CAST([] AS VARCHAR[])
                    ELSE regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') END AS t
        FROM documents),
      tot AS (SELECT source,
               sum(greatest(len(t), 0)) AS n1_total,
               sum(greatest(len(t) - 1, 0)) AS n2_total,
               sum(greatest(len(t) - 2, 0)) AS n3_total
             FROM base GROUP BY 1),
      g1 AS (SELECT source, count(DISTINCT v) AS n1_distinct
             FROM (SELECT source, unnest(t) AS v FROM base) GROUP BY 1),
      g2 AS (SELECT source, count(DISTINCT v) AS n2_distinct
             FROM (SELECT source, unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS v
                   FROM base WHERE len(t) >= 2) GROUP BY 1),
      g3 AS (SELECT source, count(DISTINCT v) AS n3_distinct
             FROM (SELECT source, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS v
                   FROM base WHERE len(t) >= 3) GROUP BY 1)
      SELECT tot.source,
             CAST(n1_total AS BIGINT) AS n1_total,
             CAST(COALESCE(n1_distinct, 0) AS BIGINT) AS n1_distinct,
             round(CASE WHEN n1_total > 0 THEN CAST(COALESCE(n1_distinct, 0) AS DOUBLE) / n1_total ELSE 0.0 END, 6) AS n1_div_r,
             CAST(n2_total AS BIGINT) AS n2_total,
             CAST(COALESCE(n2_distinct, 0) AS BIGINT) AS n2_distinct,
             round(CASE WHEN n2_total > 0 THEN CAST(COALESCE(n2_distinct, 0) AS DOUBLE) / n2_total ELSE 0.0 END, 6) AS n2_div_r,
             CAST(n3_total AS BIGINT) AS n3_total,
             CAST(COALESCE(n3_distinct, 0) AS BIGINT) AS n3_distinct,
             round(CASE WHEN n3_total > 0 THEN CAST(COALESCE(n3_distinct, 0) AS DOUBLE) / n3_total ELSE 0.0 END, 6) AS n3_div_r
      FROM tot
      LEFT JOIN g1 USING (source) LEFT JOIN g2 USING (source) LEFT JOIN g3 USING (source)
      ORDER BY tot.source""",
    // Hilbert replay: the same level-reduction xy2d loop, one recursive-CTE
    // step per bit level (s halves 128 → 1; rows finish at s = 0).
    "q141_hilbert" -> """
      WITH pts AS (
        SELECT event_id, user_id,
               user_id % 256 AS x0, event_id % 256 AS y0
        FROM events),
      h AS (
        WITH RECURSIVE it(event_id, s, x, y, d) AS (
          SELECT event_id, CAST(128 AS BIGINT), x0, y0, CAST(0 AS BIGINT) FROM pts
          UNION ALL
          SELECT event_id, s // 2,
            CASE WHEN (y & s) = 0 THEN
                   CASE WHEN (x & s) > 0 THEN s - 1 - (y % s) ELSE (y % s) END
                 ELSE (x % s) END,
            CASE WHEN (y & s) = 0 THEN
                   CASE WHEN (x & s) > 0 THEN s - 1 - (x % s) ELSE (x % s) END
                 ELSE (y % s) END,
            d + s * s * (CASE WHEN (x & s) > 0 AND (y & s) > 0 THEN 2
                              WHEN (x & s) > 0 THEN 3
                              WHEN (y & s) > 0 THEN 1 ELSE 0 END)
          FROM it WHERE s > 0)
        SELECT event_id, d FROM it WHERE s = 0)
      SELECT p.event_id, p.user_id, h.d AS hval
      FROM pts p JOIN h USING (event_id)
      ORDER BY hval, event_id""",
    // Sessionize replay: integer-microsecond gaps, same window + running sum.
    "q132_sessionize" -> """
      WITH l AS (
        SELECT user_id, event_id, ts, value,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events),
      f AS (
        SELECT *, CASE WHEN prev IS NULL OR epoch_us(ts) - prev > 28800000000 THEN 1 ELSE 0 END AS opens
        FROM l),
      sess AS (
        SELECT user_id, ts, value,
               sum(opens) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM f)
      SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
             min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events, round(sum(value), 6) AS value_sum_r
      FROM sess GROUP BY 1, 2 ORDER BY user_id, session_idx""",
    // Triangle replay: same block-arithmetic edges; a triangle is any
    // a<b<c with edges (a,b),(b,c),(a,c) — enumeration is canonical, so no
    // need to replay the engine's degree orientation.
    "q137_triangles" -> """
      WITH ids AS (SELECT doc_id AS i FROM documents),
      e0 AS (
        SELECT i, i + 1 AS j FROM ids WHERE (i + 1) // 16 = i // 16
        UNION ALL
        SELECT i, i + 2 AS j FROM ids WHERE (i + 2) // 16 = i // 16),
      ed AS (SELECT DISTINCT least(i, j) AS a, greatest(i, j) AS b
             FROM e0 WHERE i <> j)
      SELECT e1.a AS a, e1.b AS b, e2.b AS c
      FROM ed e1
      JOIN ed e2 ON e2.a = e1.b
      JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b
      ORDER BY a, b, c""",
    // Group-sample replay: row_number over the same salted md5 order.
    "q134_group_sample" -> """
      WITH r AS (
        SELECT source, doc_id,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5('gs1|' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
        FROM documents)
      SELECT source, CAST(pos AS BIGINT) AS pos, doc_id
      FROM r WHERE pos <= 25 ORDER BY source, pos""",
    // Quota replay: window rank + group count + the same integer
    // cross-multiplied keep predicate.
    "q135_quality_quota" -> """
      WITH r AS (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (PARTITION BY lang
                 ORDER BY n_chars DESC, doc_id) AS rank,
               count(*) OVER (PARTITION BY lang) AS n
        FROM documents)
      SELECT lang, doc_id, n_chars, CAST(rank AS BIGINT) AS rank
      FROM r WHERE 3 * n > (rank - 1) * 10 ORDER BY lang, rank""",
    // Bin-packing replay: same salted md5 bucket, (len desc, id) order,
    // sequential NFD fold as a linear recursive CTE stepping rn per bucket.
    "q139_bin_packing" -> """
      WITH d AS (
        SELECT doc_id, n_chars,
               CAST(('0x' || substr(md5('bp1|' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 8 AS bucket
        FROM documents),
      r AS (
        SELECT bucket, doc_id, n_chars,
               row_number() OVER (PARTITION BY bucket ORDER BY n_chars DESC, doc_id) AS rn
        FROM d),
      pack AS (
        WITH RECURSIVE p(bucket, rn, doc_id, n_chars, bin, load) AS (
          SELECT bucket, rn, doc_id, n_chars, CAST(1 AS BIGINT), n_chars
          FROM r WHERE rn = 1
          UNION ALL
          SELECT r.bucket, r.rn, r.doc_id, r.n_chars,
                 CASE WHEN p.load + r.n_chars > 2048 THEN p.bin + 1 ELSE p.bin END,
                 CASE WHEN p.load + r.n_chars > 2048 THEN r.n_chars ELSE p.load + r.n_chars END
          FROM p JOIN r ON r.bucket = p.bucket AND r.rn = p.rn + 1)
        SELECT * FROM p)
      SELECT CAST(bucket AS BIGINT) AS bucket, doc_id, n_chars,
             bin, load AS load_after
      FROM pack ORDER BY bucket, bin, doc_id""",
    // Divergence replay: per-(lang, half) token counts over the union vocab,
    // add-one smoothing, rounded KL sums + exact-rational χ².
    "q133_divergence" -> """
      WITH tk AS (
        SELECT lang, doc_id % 2 AS side, unnest(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS tok
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      c AS (SELECT lang, tok,
              sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ca,
              sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cb
            FROM tk GROUP BY 1, 2),
      t AS (SELECT lang, sum(ca) AS na, sum(cb) AS nb, count(*) AS v FROM c GROUP BY 1),
      p AS (SELECT c.lang, t.v, t.na, t.nb,
              (ca + 1.0) / (na + v) AS pa, (cb + 1.0) / (nb + v) AS pb,
              CAST((ca - cb) * (ca - cb) AS DOUBLE) / (ca + cb) AS chi
            FROM c JOIN t USING (lang))
      SELECT lang, CAST(max(v) AS BIGINT) AS v, CAST(max(na) AS BIGINT) AS na, CAST(max(nb) AS BIGINT) AS nb,
             round(sum(pa * ln(pa / pb)), 6) AS kl_ab_r,
             round(sum(pb * ln(pb / pa)), 6) AS kl_ba_r,
             round(sum(chi), 6) AS chi2_r
      FROM p GROUP BY lang ORDER BY lang""",
    // k-anonymity replay: the same derived bands, both window counts, and
    // the three ladder levels unioned.
    "q188_k_anonymity" -> """
      WITH base AS (
        SELECT c_custkey,
               CAST(c_nationkey AS VARCHAR) AS nat,
               c_mktsegment AS seg,
               CAST(CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS VARCHAR) AS band,
               CAST(c_nationkey % 5 AS VARCHAR) AS g_nat,
               c_mktsegment AS g_seg,
               CAST(CAST(floor(CAST(floor(c_acctbal / 2000.0) AS BIGINT) / 3.0) AS BIGINT) AS VARCHAR) AS g_band
        FROM customer),
      l0 AS (SELECT *, count(*) OVER (PARTITION BY nat, seg, band) AS n0 FROM base),
      p0 AS (SELECT c_custkey, nat AS c_nationkey, seg AS c_mktsegment,
                    band AS bal_band, 0 AS anonymity_level
             FROM l0 WHERE n0 >= 3),
      f0 AS (SELECT * FROM l0 WHERE n0 < 3),
      l1 AS (SELECT *, count(*) OVER (PARTITION BY g_nat, g_seg, g_band) AS n1 FROM f0),
      p1 AS (SELECT c_custkey, g_nat, g_seg, g_band, 1 FROM l1 WHERE n1 >= 3),
      p2 AS (SELECT c_custkey, '*', '*', '*', 2 FROM l1 WHERE n1 < 3)
      SELECT * FROM (SELECT * FROM p0 UNION ALL SELECT * FROM p1
                     UNION ALL SELECT * FROM p2)
      ORDER BY c_custkey""",
    // Luhn-mask replay: greedy-regex candidates (the kernel's scan consumes
    // exactly this language), digit-by-digit checksum with the same
    // double-every-second-from-the-right rule, fold replace() over the
    // valid candidates (each doc's planted cards are distinct strings and
    // the base corpus is digit-free, so replace-all == per-occurrence).
    "q189_luhn_mask" -> """
      WITH planted AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 7 = 0 THEN ' pay 4539 1488 0343 6467 today' ELSE '' END ||
          CASE WHEN doc_id % 11 = 0 THEN ' amex 3782-822463-10005 ok' ELSE '' END ||
          CASE WHEN doc_id % 5 = 0 THEN ' ref 1234-5678-9012-3456 end' ELSE '' END ||
          CASE WHEN doc_id % 3 = 0 THEN ' call 12 34 56' ELSE '' END AS text
        FROM documents),
      cand AS (
        SELECT doc_id, text,
               list_distinct(regexp_extract_all(text, '[0-9]([ -]?[0-9])*', 0)) AS cs
        FROM planted),
      valid AS (
        SELECT doc_id, text,
               list_filter(cs, c ->
                 length(regexp_replace(c, '[^0-9]', '', 'g')) BETWEEN 13 AND 19
                 AND list_sum([
                   CASE WHEN (length(regexp_replace(c, '[^0-9]', '', 'g')) - i) % 2 = 0
                        THEN ord(regexp_replace(c, '[^0-9]', '', 'g')[i]) - 48
                        ELSE CASE WHEN (ord(regexp_replace(c, '[^0-9]', '', 'g')[i]) - 48) * 2 > 9
                                  THEN (ord(regexp_replace(c, '[^0-9]', '', 'g')[i]) - 48) * 2 - 9
                                  ELSE (ord(regexp_replace(c, '[^0-9]', '', 'g')[i]) - 48) * 2 END END
                   for i in range(1, length(regexp_replace(c, '[^0-9]', '', 'g')) + 1)]) % 10 = 0) AS vs
        FROM cand),
      m AS (
        SELECT doc_id,
               list_reduce([text] || vs, (acc, c) -> replace(acc, c,
                 '[CARD-' || right(regexp_replace(c, '[^0-9]', '', 'g'), 4) || ']')) AS masked_text
        FROM valid)
      SELECT doc_id, masked_text,
             CAST((length(masked_text) - length(replace(masked_text, '[CARD-', ''))) / 6 AS BIGINT) AS n_masked
      FROM m ORDER BY doc_id""",
    // DP-count replay: the injection-proof per-column-hashed key, the
    // md5-prefix uniform, the same inverse-CDF Laplace.
    "q190_dp_counts" -> """
      WITH g AS (SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2),
      n AS (SELECT lang, source, c,
              (CAST(CAST(('0x' || substr(md5(md5('dp1') || coalesce(md5(lang), '~') || coalesce(md5(source), '~')), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS u
            FROM g)
      SELECT lang, source,
             round(c + (-1.0 / 0.5) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 6) AS noisy_count
      FROM n ORDER BY lang, source""",
    // Fertility replay: the q97 pipe-encoded replace() merge cascade over
    // the distinct-word vocab, joined back to the doc word stream.
    "q192_tokenizer_fertility" -> """
      WITH docs AS (
        SELECT doc_id, lang,
               regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+') AS wa
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      v0 AS (SELECT DISTINCT word FROM (SELECT unnest(wa) AS word FROM docs)),
      seg AS (SELECT word,
               replace(replace(replace(
                 '|' || array_to_string(regexp_split_to_array(word, ''), '||') || '|',
                 '|t||a|', '|ta|'), '|b||l|', '|bl|'), '|bl||e|', '|ble|') AS s
              FROM v0),
      dw AS (SELECT lang, unnest(wa) AS word FROM docs),
      j AS (SELECT lang, length(word) AS wc,
                   len(regexp_split_to_array(trim(s, '|'), '\|\|')) AS tc
            FROM dw JOIN seg USING (word))
      SELECT lang, count(*) AS n_words,
             CAST(sum(tc) AS BIGINT) AS n_tokens,
             CAST(sum(wc) AS BIGINT) AS n_chars,
             round(CAST(sum(tc) AS DOUBLE) / count(*), 6) AS fertility,
             round(CAST(sum(wc) AS DOUBLE) / sum(tc), 6) AS chars_per_token
      FROM j GROUP BY lang ORDER BY lang""",
    // Calibration replay: exact integer moments, the same sigmoid, decile
    // bins, decimal-summed mean score.
    "q193_calibration_bins" -> """
      WITH st AS (SELECT CAST(sum(n_chars) AS BIGINT) AS sx,
                         CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx,
                         count(*) AS n
                  FROM documents),
      sc AS (SELECT d.lang, d.n_chars,
               CAST(sx AS DOUBLE) / n AS mu,
               sqrt(CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) AS sg
             FROM documents d, st),
      s2 AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
               1.0 / (1.0 + exp((mu - n_chars) / sg)) AS score FROM sc),
      b AS (SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
               CAST(round(score, 6) AS DECIMAL(18,6)) AS s6, y FROM s2)
      SELECT bin, count(*) AS n,
             round(CAST(sum(s6) AS DOUBLE) / count(*), 6) AS avg_score,
             round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS pos_rate
      FROM b GROUP BY bin ORDER BY bin""",
    // Streaming ANN ingest: batch boundaries cannot change a row-wise
    // encode, so the drained index searches exactly like the one-shot
    // composition — same replay as q103/q169.
    "q191_streaming_ann_ingest" -> ivfPqOracle,
    // Streaming DQ gate: row-level rules are batch-independent, so the
    // drained split equals the one-shot predicate. NULL semantics match
    // the DQDL compiler's three-valued logic (NULL fails every tier).
    "q197_streaming_dq_gate" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             CASE WHEN o_orderstatus IN ('O','F') AND o_totalprice >= 30000
                       AND o_custkey IS NOT NULL
                  THEN 'pass' ELSE 'quarantine' END AS dq_status
      FROM orders ORDER BY o_orderkey""",
    // LSH planner replay: the closed forms over the divisor table.
    "q198_lsh_plan" -> """
      SELECT b AS bands, 64 // b AS rows_per_band,
             round(1 - power(1 - power(0.7, 64 // b), b), 6) AS recall_at_t,
             round(power(1.0 / b, 1.0 / (64 // b)), 6) AS midpoint,
             round(1 - power(1 - power(0.2, 64 // b), b), 6) AS junk_collision
      FROM range(1, 65) t(b) WHERE 64 % b = 0 ORDER BY bands""",
    // Bounded-DP replay: per-(user, group) capped counts, the md5-ranked
    // per-user group cap, group sums, the per-column-hashed key, the
    // (maxPerUser*maxGroupsPerUser)-scaled Laplace.
    "q201_dp_bounded" -> """
      WITH c AS (SELECT user_id, event_type, least(count(*), 3) AS c
                 FROM events GROUP BY 1, 2),
      r AS (SELECT user_id, event_type, c,
              md5(md5('dpu1') || coalesce(md5(CAST(user_id AS VARCHAR)), '~') || coalesce(md5(event_type), '~')) AS rk
            FROM c),
      s AS (SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY rk, coalesce(md5(event_type), '~')) AS gr FROM r),
      g AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS t
            FROM s WHERE gr <= 2 GROUP BY 1),
      n AS (SELECT event_type, t,
              (CAST(CAST(('0x' || substr(md5(md5('dpu1') || coalesce(md5(event_type), '~')), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS u
            FROM g)
      SELECT event_type,
             round(t + (-12.0) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 6) AS noisy_count
      FROM n ORDER BY event_type""",
    // DP-sum replay: clip, quantize, exact sums, the shared key + Laplace.
    "q202_dp_sums" -> """
      WITH v AS (SELECT event_type,
                   CAST(round(least(greatest(CAST(value AS DOUBLE), 0.0), 500.0) * 1000000.0) AS BIGINT) AS vq
                 FROM events),
      g AS (SELECT event_type, CAST(sum(vq) AS BIGINT) AS s FROM v GROUP BY 1),
      n AS (SELECT event_type, s,
              (CAST(CAST(('0x' || substr(md5(md5('dps1') || coalesce(md5(event_type), '~')), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS u
            FROM g)
      SELECT event_type,
             round(CAST(s AS DOUBLE) / 1000000.0 + (-500.0 / 0.5) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 6) AS noisy_sum
      FROM n ORDER BY event_type""",
    // Bootstrap replay: same md5 uniform, same Poisson(1) CDF literals,
    // exact scaled-long weighted sums.
    "q200_poisson_bootstrap" -> """
      WITH rep AS (
        SELECT d.doc_id, d.n_chars, b AS replicate
        FROM documents d, range(0, 10) t(b)),
      w AS (
        SELECT replicate,
          CASE WHEN u < 0.36787944117144233 THEN 0
               WHEN u < 0.7357588823428847 THEN 1
               WHEN u < 0.919698602928606 THEN 2
               WHEN u < 0.9810118431238462 THEN 3
               WHEN u < 0.9963401531726563 THEN 4
               WHEN u < 0.9994058151824183 THEN 5
               WHEN u < 0.9999167588507119 THEN 6
               WHEN u < 0.9999897508033253 THEN 7
               ELSE 8 END AS wt,
          CAST(round(CAST(n_chars AS DOUBLE) * 1000000.0) AS BIGINT) AS v
        FROM (SELECT *,
          (CAST(CAST(('0x' || substr(md5('pb1|' || CAST(replicate AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS u
          FROM rep))
      SELECT CAST(replicate AS INTEGER) AS replicate,
             CAST(sum(wt) AS BIGINT) AS n_eff,
             CASE WHEN sum(wt) = 0 THEN NULL
                  ELSE round(CAST(sum(wt * v) AS DOUBLE) / sum(wt) / 1000000.0, 6) END AS mean_r
      FROM w GROUP BY replicate ORDER BY replicate""",
    // Delete replay: the surviving-row predicate (null user ids survive —
    // a NULL key never matches a delete request).
    "q199_delete_propagation" -> """
      SELECT event_id, user_id, event_type, value,
             CAST(user_id % 8 AS INTEGER) AS bucket
      FROM events
      WHERE user_id IS NULL OR user_id % 17 <> 0
      ORDER BY event_id""",
    // Pruned-scan replay: pruning is a pure file cut, so the oracle is the
    // plain predicate over the full table — any divergence means a file
    // was wrongly skipped (or a residual was dropped).
    "q203_stats_pruned_scan" -> """
      SELECT event_id, user_id, event_type, value,
             CAST(user_id % 4 AS INTEGER) AS bucket
      FROM events
      WHERE event_id BETWEEN 200 AND 400
        AND event_type IN ('click', 'purchase')
      ORDER BY event_id""",
    // Stats-pruned delete replay: identical surviving-row predicate as the
    // full-scan q199 shape (mod 13 here) — discovery mechanics invisible.
    "q204_delete_pruned" -> """
      SELECT event_id, user_id, event_type, value,
             CAST(user_id % 8 AS INTEGER) AS bucket
      FROM events
      WHERE user_id IS NULL OR user_id % 13 <> 0
      ORDER BY event_id""",
    // Label-propagation replay: the q119 edge fixture symmetrized +
    // distinct, three unrolled vote/argmax rounds with the (count desc,
    // label asc) tiebreak, isolated nodes kept via the left join.
    "q194_label_propagation" -> """
      WITH n AS (SELECT max(doc_id) + 1 AS nn FROM documents),
      nodes AS (SELECT doc_id AS id FROM documents),
      e0 AS (
        SELECT id AS src, (id * 2 + 1) % nn AS dst FROM nodes, n
        UNION ALL
        SELECT id, (id * 5 + 3) % nn FROM nodes, n),
      sym AS (SELECT DISTINCT a, b FROM (
        SELECT src AS a, dst AS b FROM e0
        UNION ALL SELECT dst, src FROM e0)),
      l0 AS (SELECT id, id AS label FROM nodes),
      v1 AS (SELECT s.a, l.label, count(*) AS cnt FROM sym s JOIN l0 l ON l.id = s.b GROUP BY 1, 2),
      w1 AS (SELECT a, label, row_number() OVER (PARTITION BY a ORDER BY cnt DESC, label) AS r FROM v1),
      l1 AS (SELECT nodes.id, COALESCE(t.label, nodes.id) AS label
             FROM nodes LEFT JOIN (SELECT a, label FROM w1 WHERE r = 1) t ON t.a = nodes.id),
      v2 AS (SELECT s.a, l.label, count(*) AS cnt FROM sym s JOIN l1 l ON l.id = s.b GROUP BY 1, 2),
      w2 AS (SELECT a, label, row_number() OVER (PARTITION BY a ORDER BY cnt DESC, label) AS r FROM v2),
      l2 AS (SELECT nodes.id, COALESCE(t.label, nodes.id) AS label
             FROM nodes LEFT JOIN (SELECT a, label FROM w2 WHERE r = 1) t ON t.a = nodes.id),
      v3 AS (SELECT s.a, l.label, count(*) AS cnt FROM sym s JOIN l2 l ON l.id = s.b GROUP BY 1, 2),
      w3 AS (SELECT a, label, row_number() OVER (PARTITION BY a ORDER BY cnt DESC, label) AS r FROM v3),
      l3 AS (SELECT nodes.id, COALESCE(t.label, nodes.id) AS label
             FROM nodes LEFT JOIN (SELECT a, label FROM w3 WHERE r = 1) t ON t.a = nodes.id)
      SELECT id AS doc_id, label FROM l3 ORDER BY doc_id""",
    "q208_incremental_lpa" -> """
      WITH n AS (SELECT max(doc_id) + 1 AS nn FROM documents),
      nodes AS (SELECT doc_id AS id FROM documents),
      e0 AS (
        SELECT id AS src, (id * 2 + 1) % nn AS dst FROM nodes, n
        UNION ALL
        SELECT id, (id * 5 + 3) % nn FROM nodes, n),
      sym AS (SELECT DISTINCT a, b FROM (
        SELECT src AS a, dst AS b FROM e0
        UNION ALL SELECT dst, src FROM e0)),
      l0 AS (SELECT id, id AS label FROM nodes),
      v1 AS (SELECT s.a, l.label, count(*) AS cnt FROM sym s JOIN l0 l ON l.id = s.b GROUP BY 1, 2),
      w1 AS (SELECT a, label, row_number() OVER (PARTITION BY a ORDER BY cnt DESC, label) AS r FROM v1),
      l1 AS (SELECT nodes.id, COALESCE(t.label, nodes.id) AS label
             FROM nodes LEFT JOIN (SELECT a, label FROM w1 WHERE r = 1) t ON t.a = nodes.id),
      v2 AS (SELECT s.a, l.label, count(*) AS cnt FROM sym s JOIN l1 l ON l.id = s.b GROUP BY 1, 2),
      w2 AS (SELECT a, label, row_number() OVER (PARTITION BY a ORDER BY cnt DESC, label) AS r FROM v2),
      l2 AS (SELECT nodes.id, COALESCE(t.label, nodes.id) AS label
             FROM nodes LEFT JOIN (SELECT a, label FROM w2 WHERE r = 1) t ON t.a = nodes.id),
      v3 AS (SELECT s.a, l.label, count(*) AS cnt FROM sym s JOIN l2 l ON l.id = s.b GROUP BY 1, 2),
      w3 AS (SELECT a, label, row_number() OVER (PARTITION BY a ORDER BY cnt DESC, label) AS r FROM v3),
      l3 AS (SELECT nodes.id, COALESCE(t.label, nodes.id) AS label
             FROM nodes LEFT JOIN (SELECT a, label FROM w3 WHERE r = 1) t ON t.a = nodes.id)
      SELECT id AS doc_id, label FROM l3 ORDER BY doc_id""",
    // Co-occurrence replay: distinct token sets, the maxTokens exclusion,
    // pair counts via the same per-doc self-join, df/N joins, log-ratio.
    "q195_cooccurrence_pmi" -> """
      WITH toks AS (
        SELECT doc_id,
               list_distinct(regexp_split_to_array(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')) AS ts
        FROM documents WHERE regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
      ok AS (SELECT doc_id, ts FROM toks WHERE len(ts) > 0 AND len(ts) <= 200),
      nn AS (SELECT count(*) AS n FROM ok),
      tok AS (SELECT doc_id, unnest(ts) AS t FROM ok),
      dfq AS (SELECT t, count(*) AS df FROM tok GROUP BY t),
      pairs AS (
        SELECT ta.t AS token_a, tb.t AS token_b, count(*) AS support
        FROM tok ta JOIN tok tb ON ta.doc_id = tb.doc_id AND ta.t < tb.t
        GROUP BY 1, 2 HAVING count(*) >= 150)
      SELECT p.token_a, p.token_b, p.support, da.df AS df_a, db.df AS df_b,
             round(ln(CAST(p.support * nn.n AS DOUBLE) / CAST(da.df * db.df AS DOUBLE)), 6) AS pmi
      FROM pairs p
      JOIN dfq da ON da.t = p.token_a
      JOIN dfq db ON db.t = p.token_b, nn
      ORDER BY token_a, token_b""",
    // JL replay: the same md5-parity Rademacher matrix (±1/sqrt(16)),
    // each output dim an order-pinned sequential sum over j.
    "q196_jl_projection" -> """
      WITH m AS (
        SELECT i, list(CASE WHEN CAST(('0x' || substr(md5('jl1|' || CAST(i AS VARCHAR) || '|' || CAST(j AS VARCHAR)), 1, 2)) AS INTEGER) % 2 = 0
                            THEN 1.0 / sqrt(16.0) ELSE -1.0 / sqrt(16.0) END
                       ORDER BY j) AS row
        FROM range(0, 16) t(i), range(0, 64) u(j) GROUP BY i)
      SELECT e.vec_id, CAST(m.i AS BIGINT) AS dim,
             round(list_reduce(
               [CAST(0 AS DOUBLE)] ||
               [m.row[j] * CAST(e.embedding[j] AS DOUBLE) for j in range(1, 65)],
               (a, x) -> a + x), 6) AS y_r
      FROM embeddings e, m
      ORDER BY vec_id, dim""",
  )

  /** DuckDB bit-interleave expression matching Layout.mortonCode: dim i's
    * bit j lands at position j·n+i. Kept next to the oracle so the two
    * sides can never drift silently. */
  private def mortonSqlExpr(xs: Seq[String], bits: Int): String =
    (for { j <- 0 until bits; i <- xs.indices }
      yield s"(((${xs(i)} >> $j) & 1) << ${j * xs.size + i})").mkString(" | ")
}
