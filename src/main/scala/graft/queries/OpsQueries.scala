package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops._

/** LLM-data-pipeline operator queries (dedup / similarity / text analysis /
  * multimodal) over the documents + embeddings tables, each with a DuckDB
  * oracle. Hashing goes through md5 (engine-independent) and embedding math
  * through integer quantization (TextKit), so results hash-match exactly. */
object OpsQueries {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")
  private def emb(s: SparkSession, d: String) = Tables(s, d, "embeddings")
  private def events(s: SparkSession, d: String) = Tables(s, d, "events")

  /** q232/q233 contamination planting: bench docs (doc_id % 97 = 0) and
    * the planted corpus slice (doc_id % 23 = 5) both append the same
    * 10-token passage keyed by doc_id % 7, so pure-passage 8-grams
    * collide exactly within a group. */
  private def plantContam(dd: DataFrame): DataFrame = {
    val passage = concat_ws(" ", (0 until 10).map(j =>
      concat(lit(s"ctm${j}g"), (col("doc_id") % 7).cast("string"))): _*)
    dd.withColumn("text",
      when(col("doc_id") % 97 === 0 || col("doc_id") % 23 === 5,
        concat(col("text"), lit(" "), passage))
        .otherwise(col("text")))
  }

  val queries: Map[String, Q] = Map(
    "q21_dedup_exact" -> ((s, d) =>
      Dedup.exact(docs(s, d)).orderBy("canonical_id")),
    "q22_dedup_ngram" -> ((s, d) =>
      Dedup.ngramJaccardPairs(docs(s, d)).orderBy("doc_a", "doc_b")),
    "q23_dedup_minhash" -> ((s, d) =>
      Dedup.minhashLshPairs(docs(s, d)).orderBy("doc_a", "doc_b")),
    "q38_dedup_hot_cluster" -> ((s, d) =>
      Dedup.minhashLshPairs(
        docs(s, d).select(col("doc_id"),
          when(col("doc_id") % 10 === 0, lit(hotText))
            .otherwise(col("text")).as("text")))
        .orderBy("doc_a", "doc_b")),
    "q43_dedup_components" -> ((s, d) =>
      Components.connectedComponents(
        Dedup.minhashLshPairs(docs(s, d)).select(col("doc_a"), col("doc_b")))
        .orderBy("doc_id")),
    // the MinHashAgg typed-Aggregator extension point, oracle-gated: fold
    // per-shingle k-slot hash arrays with element-wise min (map-side
    // combinable) and unpack the signature to columns
    "q49_minhash_udaf" -> ((s, d) => {
      import s.implicits._
      val k = 8
      val perShingle = Dedup.shingleHashes(docs(s, d))
        .select(col("doc_id"),
          array((0 until k).map(j => Dedup.slotHash(col("m"), j)): _*)
            .as("hs"))
      perShingle.as[(Long, Array[Long])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(MinHashAgg.column(k).name("sig"))
        .select(col("key").as("doc_id") +:
          (0 until k).map(j => col("sig").getItem(j).as(s"h$j")): _*)
        .orderBy("doc_id")
    }),
    // incremental dedup: every 10th doc plays the incoming batch, the
    // rest the ingested corpus; cross-side near-dups only
    "q48_dedup_incremental" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.minhashLshPairsAgainst(
          all.filter(col("doc_id") % 10 =!= 0),
          all.filter(col("doc_id") % 10 === 0))
        .orderBy("doc_a", "doc_b")
    }),
    // the end product of exact dedup: the REJECTED rows (non-canonical
    // duplicates), via anti-join against the canonical-id set — at scale a
    // narrow shuffle on doc_id (or broadcast when the dup set is small).
    // The corpus has no natural byte-identical dupes, so every 7th doc is
    // rewritten to one fixed text (the q38 pattern) to make the check
    // non-trivial.
    "q47_dedup_rejects" -> ((s, d) => {
      val d0 = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0, lit(hotText)).otherwise(col("text"))
          .as("text"),
        col("lang"), col("source"))
      d0.join(Dedup.exact(d0).select(col("canonical_id").as("doc_id")),
          Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }),
    "q24_dedup_simhash" -> ((s, d) =>
      Dedup.simhash(docs(s, d)).orderBy("doc_id")),
    "q25_dedup_embedding" -> ((s, d) =>
      Dedup.embeddingNearDup(emb(s, d)).orderBy("vec_a", "vec_b")),
    "q37_dedup_embedding_blocked" -> ((s, d) =>
      Dedup.embeddingNearDupBlocked(emb(s, d)).orderBy("vec_a", "vec_b")),
    "q26_ann_brute" -> ((s, d) =>
      Similarity.bruteTopK(emb(s, d)).orderBy("query_id", "rank")),
    "q27_ann_lsh" -> ((s, d) =>
      Similarity.lshTopK(emb(s, d)).orderBy("query_id", "rank")),
    // multi-table LSH (4 tables over disjoint sign dimensions): the
    // standard recall lever — collision in ANY table admits a candidate,
    // pairs deduped before scoring. RecallSpec pins the recall lift.
    "q100_ann_lsh_multi" -> ((s, d) =>
      Similarity.lshTopK(emb(s, d), tables = 4).orderBy("query_id", "rank")),
    // PQ-then-refine: ADC shortlist of 50, exact-cosine re-rank — the
    // FAISS IndexRefineFlat composition; output is bruteTopK-shaped
    "q101_ann_pq_rerank" -> ((s, d) =>
      Similarity.pqTopK(emb(s, d), rerank = 50).orderBy("query_id", "rank")),
    // IVF-PQ with the same exact re-rank over the probed-cell shortlist
    "q102_ann_ivfpq_rerank" -> ((s, d) =>
      Similarity.ivfPqTopK(emb(s, d), rerank = 50)
        .orderBy("query_id", "rank")),
    // IVF-PQ with a Lloyd-TRAINED residual codebook (2 iterations over
    // the residual subvectors) — the trained-product-quantizer form,
    // completing the q94 training story for the composed index
    "q104_ann_ivfpq_trained" -> ((s, d) =>
      Similarity.ivfPqTopK(emb(s, d), cbTrainIters = 2)
        .orderBy("query_id", "rank")),
    // the 100 TB codebook-training shape: Lloyd refinement of the
    // residual codebook scans only the deterministic 1/2 hash-sample
    // (FAISS trains PQ on ~100k vectors); encode still covers the corpus
    "q116_ann_ivfpq_cbsampled" -> ((s, d) =>
      Similarity.ivfPqTopK(emb(s, d), cbTrainIters = 2, cbSampleMod = 2)
        .orderBy("query_id", "rank")),
    // STREAMING ANN admission against the prebuilt IVF-PQ index: the
    // fresh 10% arrives as a stream and is scored against the
    // compressed 90% corpus with row-local probe/ADC math (stream-legal
    // — no aggregation before the stream-static cell join); emitted
    // pairs equal the batch scored set under the same ADC gate
    "q106_stream_ivfpq" -> ((s, d) =>
      graft.streaming.StreamingOps.streamIvfPqAdmission(s, d,
        maxAdc = 125000000000000L)),
    "q36_ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(emb(s, d)).orderBy("query_id", "rank")),
    // the 100 TB training shape: Lloyd iterations scan only the
    // deterministic 1/4 hash-sample of the corpus; only the final cell
    // assignment (and the probe/score tail) touches the full data
    "q50_ann_ivf_sampled" -> ((s, d) =>
      Similarity.ivfTopK(emb(s, d), trainSampleMod = 4)
        .orderBy("query_id", "rank")),
    // adversarial dup-heavy corpus: 80% of docs are rewritten into salted
    // near-dup families, so the candidate-doc set approaches the WHOLE
    // corpus — broadcastDocLimit = 0 forces the verify semi join onto its
    // shuffle fallback (the 100 TB safety path); answers must not change
    "q60_dedup_dupheavy" -> ((s, d) =>
      Dedup.minhashLshPairs(
        docs(s, d).select(col("doc_id"),
          when(col("doc_id") % 5 =!= 0,
            concat(lit(hotText), lit(" g"),
              (col("doc_id") % 200).cast("string"),
              lit(" v"), (col("doc_id") % 3).cast("string")))
            .otherwise(col("text")).as("text")),
        broadcastDocLimit = 0L)
        .orderBy("doc_a", "doc_b")),
    "q44_vocabulary" -> ((s, d) =>
      TextAnalysis.vocabulary(docs(s, d))),
    "q61_doc_keywords" -> ((s, d) =>
      TextAnalysis.keywords(docs(s, d)).orderBy("doc_id", "rank")),
    "q65_length_percentiles" -> ((s, d) =>
      TextAnalysis.lengthPercentiles(docs(s, d)).orderBy("lang", "p")),
    // duplicate-cluster summary: the keep-one-per-cluster shape a dedup
    // pipeline consumes (canonical id + member count per component).
    // Pairs come from the n-gram family so the bench doesn't re-pay the
    // minhash+CC chain q43 already measures; the CC layer is identical.
    "q62_dup_clusters" -> ((s, d) =>
      Components.clusters(
        Dedup.ngramJaccardPairs(docs(s, d)).select(col("doc_a"), col("doc_b")))
        .orderBy("component_id")),
    // alternating large-star/small-star CC (the edge-shrinking variant)
    // over deterministic 10-node chains — diameter 9 exercises several
    // star alternations; labels must equal the transitive closure
    "q64_components_stars" -> ((s, d) =>
      Components.connectedComponentsStars(
        docs(s, d)
          .filter(col("doc_id") % 10 =!= 9)
          .select(col("doc_id").as("doc_a"),
            (col("doc_id") + lit(1L)).as("doc_b")))
        .orderBy("doc_id")),
    // PII scrub over a corpus where every 4th doc gets a planted email +
    // long number (the synthetic corpus has none naturally)
    "q63_pii_scrub" -> ((s, d) =>
      TextAnalysis.scrubPii(
        docs(s, d).select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(" contact user"),
              (col("doc_id") % 50).cast("string"),
              lit("@example.com ref 12345678"),
              (col("doc_id") % 10).cast("string")))
            .otherwise(col("text")).as("text")))
        .orderBy("doc_id")),
    // exact two-pass heavy hitters: Misra-Gries sketch (k=2000) proposes
    // candidates, an exact recount keeps bigrams with cnt*1000 >= n —
    // identical to the oracle's full GROUP BY .. HAVING
    "q66_heavy_hitters" -> ((s, d) =>
      TextAnalysis.heavyHitters(docs(s, d)).orderBy("shingle")),
    // line-level corpus dedup: every doc gains a shared footer line (df ~
    // corpus/20) and all but every 3rd a shared header (df ~ 2/3 corpus);
    // both cross the minDf=10 bar and are stripped, bodies survive
    "q67_line_dedup" -> ((s, d) =>
      Dedup.lineDedup(
        docs(s, d).select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit("\n"), lit(lineFooter),
              (col("doc_id") % 20).cast("string")))
            .otherwise(concat(lit(lineHeader), lit("\n"), col("text"),
              lit("\n"), lit(lineFooter),
              (col("doc_id") % 20).cast("string")))
            .as("text")))
        .orderBy("doc_id")),
    // train/test contamination: docs with doc_id % 101 == 0 play the
    // benchmark; every corpus doc with doc_id % 10 == 3 gets its
    // deterministic bench ref ((doc_id % 5) * 101) appended — those pairs
    // must be flagged at tau = 0.5 over distinct 5-gram overlap
    "q68_contamination" -> ((s, d) => {
      val d0 = docs(s, d)
      val bench = d0.filter(col("doc_id") % 101 === 0)
        .select(col("doc_id").as("bench_id"), col("text"))
      val planted = d0.filter(col("doc_id") % 101 =!= 0)
        .join(broadcast(bench.select(col("bench_id"), col("text").as("btext"))),
          (col("doc_id") % 5) * 101 === col("bench_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 3, concat(col("text"), lit(" "), col("btext")))
            .otherwise(col("text")).as("text"))
      Dedup.contamination(planted, bench).orderBy("doc_id", "bench_id")
    }),
    // Bloom-gated rejection filter over the q47 planted-dup corpus: the
    // blocklist is the non-canonical duplicate ids; definite non-members
    // bypass the join entirely, possible members pay the exact anti-join —
    // the result must equal the plain NOT IN
    "q69_bloom_rejects" -> ((s, d) => {
      val d0 = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0, lit(hotText)).otherwise(col("text"))
          .as("text"),
        col("lang"), col("source"))
      val blocklist = d0.join(
          Dedup.exact(d0).select(col("canonical_id").as("doc_id")),
          Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
      Bloom.rejectFilter(
          d0.select(col("doc_id"), col("lang"), col("source")),
          "doc_id", blocklist, "doc_id")
        .orderBy("doc_id")
    }),
    // deterministic hash sharding for training export: the per-shard
    // manifest (count, chars, order-independent id checksum)
    "q70_shard_export" -> ((s, d) =>
      Export.shardSummary(docs(s, d), "doc_id", nShards = 16)
        .orderBy("shard")),
    "q71_repetition" -> ((s, d) =>
      TextAnalysis.repetition(docs(s, d)).orderBy("doc_id")),
    // sequence packing: per-shard deterministic pseudo-random order +
    // running token sums -> fixed-budget pack assignment, shards pack in
    // parallel (window partitioned by shard, no global sort)
    // benchmark decontamination: every 97th doc is the eval suite and
    // gains a 10-token group passage (group = doc_id % 7); corpus docs
    // with doc_id % 23 = 5 gain the same group passage, so they share
    // pure-passage 8-grams with the bench slice iff their group has a
    // bench member (group 1 has none at sf<=0.01 — the negative case)
    "q232_decontaminate" -> ((s, d) =>
      Decontam.contamination(plantContam(docs(s, d)),
          col("doc_id") % 97 === 0, n = 8)
        .orderBy("doc_id")),
    // corpus-level decontamination report card: per-source drop rates
    // from one tiny rollup over the q232 relation (source rides along
    // from the corpus scan — no join back)
    "q233_decontam_report" -> ((s, d) =>
      Decontam.report(plantContam(docs(s, d)),
          col("doc_id") % 97 === 0, n = 8)
        .orderBy("source")),
    // SEMANTIC decontamination: every 17th embedding is the eval
    // slice; per corpus vector the max cosine against it, the closest
    // bench item (ties to smaller id), and the >= tau flag — catches
    // the paraphrase leak the q232 n-gram collision cannot
    "q242_semantic_decontam" -> ((s, d) =>
      Decontam.semanticContamination(emb(s, d), col("vec_id") % 17 === 0)
        .orderBy("vec_id")),
    // preference-pair mining (DPO prep): per (lang, source) pool the
    // type-token-ratio champion is `chosen`, pool-mates trailing by
    // >= 100k ppm are `rejected` partners; near-champions inside the
    // margin band pair with nothing (label-noise guard)
    "q243_preference_pairs" -> ((s, d) =>
      Curation.preferencePairs(docs(s, d))
        .orderBy("lang", "source", "rejected_id")),
    // leakage-safe split: the near-dup CLUSTER is the split unit
    // (hashed 80/10/10), so a duplicate pair can never straddle
    // train/test and the eval measure generalization, not memorization
    "q230_leakage_safe_split" -> ((s, d) =>
      Curation.leakageSafeSplit(docs(s, d)).orderBy("doc_id")),
    // balanced per-group sample: EXACTLY 20 docs per language by
    // deterministic md5 rank through a bounded-heap aggregate — count
    // contract (stratifiedSample keeps a rate), no per-group sort
    "q229_balanced_sample" -> ((s, d) =>
      TextAnalysis.balancedSample(docs(s, d), "lang", n = 20)
        .orderBy("lang", "rank")),
    // semi-structured payload extraction: events.props is a JSON
    // string; get_json_object pulls the typed field relationally
    // (codegen'd path, no UDF) and the aggregate runs over the
    // extracted integers — the schema-on-read shape for event payloads
    "q228_json_extract" -> ((s, d) =>
      events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("k")).as("n_parsed"),
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")),
    // robust per-group outlier gate: |v - median| > 3 x MAD over
    // quantized event values — the robust z-score, exact integers,
    // no engine-library stddev
    "q226_mad_outliers" -> ((s, d) =>
      Checks.madOutliers(
          events(s, d).select(col("event_type"),
            TextKit.quant(col("value")).as("v7")),
          "event_type", "v7")
        .orderBy("event_type", "v7")),
    // k-anonymity / l-diversity audit: one hash agg over the
    // quasi-identifier key flags re-identifiable equivalence classes
    // (size < k) and sensitive-value leaks (distinct < l) — the
    // privacy gate over INDIRECT identifiers, complementing the PII
    // masks' direct ones
    "q225_k_anonymity" -> ((s, d) =>
      Checks.kAnonymity(Tables(s, d, "customer"),
          Seq("c_nationkey", "c_mktsegment"), "c_acctbal", k = 10, l = 5)
        .orderBy("c_nationkey", "c_mktsegment")),
    // late-interaction retrieval (ColBERT MaxSim): docs as bags of
    // chunk vectors, score = sum over query chunks of the best doc
    // chunk dot — exact integers, codegen'd dots, bounded query set
    "q223_maxsim" -> ((s, d) =>
      Similarity.maxSimTopK(Similarity.chunkVectors(docs(s, d)))
        .orderBy("query_id", "rank")),
    // the production late-interaction composition: exact-cosine
    // shortlist (20/query) -> MaxSim reranks ONLY shortlist pairs —
    // chunk work independent of corpus size
    "q224_maxsim_rerank" -> ((s, d) =>
      Similarity.maxSimRerank(Similarity.chunkVectors(docs(s, d)),
          emb(s, d))
        .orderBy("query_id", "rank")),
    // semantic packing (in-context pretraining): q72's layout with
    // documents ordered by their k-means cell inside each shard, so
    // related docs co-occur in a pack; docs without embeddings pack
    // first under cell -1
    "q222_semantic_pack" -> ((s, d) =>
      Export.semanticPack(docs(s, d),
          Similarity.cellAssignments(emb(s, d)))
        .orderBy("doc_id")),
    "q72_sequence_packing" -> ((s, d) =>
      Export.packSequences(docs(s, d), budget = 2048L, nShards = 8)
        .orderBy("doc_id")),
    // the curation flagship: normalize -> token gate -> exact dedup on
    // the normalized body (min_by payload, no join-back) -> stratified
    // sample -> shard manifest; two shuffles end to end
    "q73_curation_pipeline" -> ((s, d) =>
      Curation.curate(docs(s, d)).orderBy("shard")),
    // context-window chunking: 64-token windows, 16-token overlap — pure
    // narrow column arithmetic, zero shuffle
    "q75_chunking" -> ((s, d) =>
      Export.chunkDocuments(docs(s, d)).orderBy("doc_id", "chunk_idx")),
    // corpus-frequency quality score (the integer-exact CCNet-style
    // LM-filter stand-in)
    "q76_unigram_score" -> ((s, d) =>
      TextAnalysis.unigramScore(docs(s, d)).orderBy("doc_id")),
    // deterministic disjoint train/val/test assignment: hash-partition
    // of the id space, stable under corpus growth, zero shuffle
    "q110_split" -> ((s, d) =>
      TextAnalysis.trainValTestSplit(docs(s, d)).orderBy("doc_id")),
    // semantic clustering: every vector queries the IVF index (kNN
    // graph, never all-pairs), mutual edges above the cosine floor,
    // connected components label the clusters. tau = 0.4 (not the 0.3
    // default): on a near-isotropic corpus a lower floor admits
    // noise-level edges whose sprawling chains cost CC rounds — the
    // BASELINE-documented guidance applied
    "q111_semantic_clusters" -> ((s, d) =>
      Similarity.semanticClusters(emb(s, d), tau = 0.4).orderBy("doc_id")),
    // one-row corpus report card: totals, coverage, exact-dup rate,
    // histogram-derived nearest-rank percentiles — the datasheet pass
    "q112_corpus_report" -> ((s, d) =>
      TextAnalysis.corpusReport(docs(s, d))),
    // per-cluster cap over the semantic clustering: at most 2
    // hash-ranked representatives per component — clusters in, curated
    // keep-set out, via the bounded per-cluster top-k aggregator
    "q114_cluster_cap" -> ((s, d) =>
      Components.capPerCluster(
        Similarity.semanticClusters(emb(s, d), tau = 0.4))
        .orderBy("component_id", "rank")),
    // bigram LM fluency (KenLM-style filter, integer ppm): mean
    // conditional probability of each doc's bigrams under the corpus's
    // own bigram model — row-local bigram build, one model aggregation
    "q105_bigram_score" -> ((s, d) =>
      TextAnalysis.bigramScore(docs(s, d)).orderBy("doc_id")),
    // CCNet-style head/middle/tail quality stratification: exact
    // nearest-rank fluency terciles via percentile_disc aggregates (no
    // global sort, no window); per-bucket sampling composes downstream
    "q120_fluency_buckets" -> ((s, d) =>
      TextAnalysis.fluencyBuckets(docs(s, d)).orderBy("doc_id")),
    // the full pretraining recipe end to end: normalize -> CCNet tail
    // drop -> per-source hash-rank cap (cap=15 so it BITES at sf0.01's
    // ~17 gate survivors per source) -> exact dedup -> split manifest
    "q121_pretrain_recipe" -> ((s, d) =>
      graft.ops.Curation.pretrainRecipe(docs(s, d), perSourceCap = 15)
        .orderBy("split", "source")),
    // the per-domain cap standalone (MassiveText policy): at most 10
    // hash-ranked docs per source, bounded aggregator, never a window
    "q122_source_cap" -> ((s, d) =>
      graft.ops.Curation.capPerKey(docs(s, d), "source", cap = 10)
        .orderBy("source", "rank")),
    // HTML boilerplate removal: real markup synthesized from the text,
    // extraction must recover the text exactly (cross-representation
    // oracle — DuckDB recomputes from the text, never sees the HTML)
    "q107_html_extract" -> ((s, d) =>
      TextAnalysis.extractHtmlText(
        TextAnalysis.htmlFromDocuments(docs(s, d))).orderBy("doc_id")),
    // the crawl pipeline end to end: markup -> extraction -> chrome
    // gate -> bigram-fluency gate (model fit on gate survivors) ->
    // exact dedup -> shard manifest; oracle composes the q107/q105/q73
    // chains from the raw text
    "q108_crawl_curation" -> ((s, d) =>
      Curation.curateCrawl(
        TextAnalysis.htmlFromDocuments(docs(s, d))).orderBy("shard")),
    // decode -> nearest-neighbor resample -> re-encode -> decode, all
    // through REAL PNG bitstreams (q91's round trip for a genuinely
    // compressed format; same integer sampling math, so the oracle is
    // q91's pixel-grid replay)
    "q109_png_resize" -> ((s, d) =>
      Multimodal.decodeImage(Multimodal.resizeImage(
          Multimodal.pngFromDocuments(docs(s, d)), outW = 8, outH = 4))
        .toDF().orderBy("media_id")),
    // keyword search: integer tf-idf ranking, postings filtered before
    // any shuffle, top-k via TakeOrdered
    "q77_search" -> ((s, d) =>
      TextAnalysis.search(docs(s, d), Seq("table", "join", "fast"))),
    // hybrid retrieval: RRF fusion of the integer tf-idf keyword pool
    // and the cosine pool against query vector 0 (doc_id-aligned)
    "q80_hybrid_search" -> ((s, d) =>
      Similarity.hybridSearch(docs(s, d), emb(s, d),
        Seq("table", "join", "fast"))),
    // SemDeDup: k-means cells confine the O(n^2) cosine matrix to
    // within-cluster blocks; keep-first (lowest id) per near-dup group
    "q82_semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedup(emb(s, d)).orderBy("vec_id")),
    // hybrid retrieval with the BM25 lexical pool (length-normalized)
    "q93_hybrid_bm25" -> ((s, d) =>
      Similarity.hybridSearch(docs(s, d), emb(s, d),
        Seq("table", "join", "fast"), useBm25 = true)),
    // BATCHED hybrid retrieval: 3 queries with distinct term sets and
    // query vectors fused independently in one corpus pass — pools and
    // fuse via the bounded per-query aggregators, no window sorts
    "q99_hybrid_batch" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(
        (0L, Seq("table", "join", "fast"), 0L),
        (1L, Seq("scan", "merge", "sort"), 1L),
        (2L, Seq("stream", "window"), 2L))
        .toDF("query_id", "terms", "qvec_id")
      Similarity.hybridSearchBatch(docs(s, d), emb(s, d), qs)
        .orderBy("query_id", "rank")
    }),
    // the same batch with BM25 lexical pools (length-normalized — the
    // q93 scorer fanned out per query)
    "q113_hybrid_batch_bm25" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(
        (0L, Seq("table", "join", "fast"), 0L),
        (1L, Seq("scan", "merge", "sort"), 1L),
        (2L, Seq("stream", "window"), 2L))
        .toDF("query_id", "terms", "qvec_id")
      Similarity.hybridSearchBatch(docs(s, d), emb(s, d), qs,
        useBm25 = true).orderBy("query_id", "rank")
    }),
    // integerized Okapi BM25 over the q77 query terms — doc-length
    // normalization that plain tf-idf lacks, same postings-first shape
    "q83_bm25" -> ((s, d) =>
      TextAnalysis.bm25Search(docs(s, d), Seq("table", "join", "fast"))),
    // product-quantization ANN: 8-byte codes + ADC lookups instead of
    // raw-vector math — the compressed-corpus search path
    "q84_ann_pq" -> ((s, d) =>
      Similarity.pqTopK(emb(s, d)).orderBy("query_id", "rank")),
    // PQ with Lloyd-refined per-subspace codebooks (2 iterations, all
    // subspaces trained in one job per iteration) — the trained form
    "q94_ann_pq_trained" -> ((s, d) =>
      Similarity.pqTopK(emb(s, d), trainIters = 2)
        .orderBy("query_id", "rank")),
    // q94's training confined to the 1/2 hash-sample — codebook Lloyd
    // iterations stop scaling with the corpus (the q50 lever, PQ side)
    "q115_ann_pq_cbsampled" -> ((s, d) =>
      Similarity.pqTopK(emb(s, d), trainIters = 2, cbSampleMod = 2)
        .orderBy("query_id", "rank")),
    // incremental LSH-index maintenance: each half-corpus indexed alone,
    // merged — must equal the full rebuild (bucket sizes oracle-checked,
    // with over-cap buckets as 65-entry sentinels)
    "q96_index_merge" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.mergeBandIndex(
          Dedup.bandIndexRaw(all.filter(col("doc_id") % 2 === 0)),
          Dedup.bandIndexRaw(all.filter(col("doc_id") % 2 =!= 0)))
        .select(col("band"), col("key"), size(col("ids")).as("n_ids"))
        .orderBy("band", "key")
    }),
    // incremental ANN: index the 90% corpus once, search it with the
    // fresh 10% as EXTERNAL query vectors (quantized independently)
    "q95_ann_incremental" -> ((s, d) => {
      val all = emb(s, d)
      val ix = Similarity.buildIvfPq(all.filter(col("vec_id") % 10 =!= 0))
      Similarity.searchIvfPqWith(ix, all.filter(col("vec_id") % 10 === 0))
        .orderBy("query_id", "rank")
    }),
    // incremental ANN index MAINTENANCE (q95 searches the prebuilt
    // index; this one GROWS it): build on the 90%, append the fresh 10%
    // without retraining — frozen centroids + codebook, batch-only work
    // — then search the grown index. Queries (vec_id < 10) span base
    // AND appended members; appended vectors are full candidates.
    "q123_ann_ivfpq_append" -> ((s, d) => {
      val all = emb(s, d)
      val ix = Similarity.buildIvfPq(all.filter(col("vec_id") % 10 =!= 0))
      Similarity.searchIvfPq(
          Similarity.appendIvfPq(ix, all.filter(col("vec_id") % 10 === 0)))
        .orderBy("query_id", "rank")
    }),
    // trained BPE tokenizer: the learned merge-rank table — 8 greedy
    // merges over the word-frequency table, weighted pair counts,
    // lexicographic tie-break
    "q124_bpe_train" -> ((s, d) =>
      Bpe.mergeTable(docs(s, d)).orderBy("rank")),
    // per-document token counts under the trained tokenizer — the real
    // counts the budget/mix/pack operators should run on
    "q125_bpe_tokens" -> ((s, d) =>
      Bpe.tokenCounts(docs(s, d)).orderBy("doc_id")),
    // the 100 TB training shape: merges learned from the deterministic
    // 1/2 hash-sample of documents; encoding still covers every word
    "q126_bpe_tokens_sampled" -> ((s, d) =>
      Bpe.tokenCounts(docs(s, d), trainSampleMod = 2).orderBy("doc_id")),
    // learned quality gate: hashed char-bigram linear classifier,
    // one-pass integer-ppm training on even-id docs + their reversed
    // twins; odd ids are held out, so their scores prove generalization
    "q127_quality_classifier" -> ((s, d) =>
      Classifier.qualityScore(docs(s, d), col("doc_id") % 2 === 0)
        .orderBy("doc_id", "variant")),
    // incremental classifier training: sufficient statistics from two
    // disjoint quarter-slices merged by summation — the scored output
    // must equal q127's monolithic even-id training exactly (the q96
    // merge-equals-rebuild story for the learned model)
    "q130_classifier_merge" -> ((s, d) => {
      val dd = docs(s, d)
      Classifier.scoreWith(dd, Classifier.weightsOf(Classifier.mergeCounts(
          Classifier.trainCounts(dd.filter(col("doc_id") % 4 === 0)),
          Classifier.trainCounts(dd.filter(col("doc_id") % 4 === 2)))))
        .orderBy("doc_id", "variant")
    }),
    // the q86 rate-form training mix re-based on REAL tokenizer counts:
    // the trained BPE merge table freezes into tokenRateMix's
    // per-row token column — budgets now meter actual model tokens
    "q128_bpe_token_mix" -> ((s, d) => {
      val dd = docs(s, d)
      val merges = Bpe.train(dd).merges
      TextKit.releaseCaches()
      TextAnalysis.tokenRateMix(dd, Map("src0" -> 700L, "src1" -> 0L),
          defaultBudget = 500L,
          tokCol = Bpe.tokenCountExpr(col("text"), merges))
        .orderBy("source", "doc_id")
    }),
    // training-mix: greedy per-domain token-budget cut (exact form)
    "q85_token_mix" -> ((s, d) =>
      TextAnalysis.tokenBudgetMix(docs(s, d),
        Map("src0" -> 700L, "src1" -> 0L), defaultBudget = 500L)
        .orderBy("source", "doc_id")),
    // training-mix: rate form — no per-domain window, the 100 TB path
    "q86_token_rate_mix" -> ((s, d) =>
      TextAnalysis.tokenRateMix(docs(s, d),
        Map("src0" -> 700L, "src1" -> 0L), defaultBudget = 500L)
        .orderBy("source", "doc_id")),
    // IVF-PQ: coarse cells + residual PQ codes + per-cell ADC tables —
    // the production compressed-index composition
    "q87_ann_ivfpq" -> ((s, d) =>
      Similarity.ivfPqTopK(emb(s, d)).orderBy("query_id", "rank")),
    // REAL binary decode, oracle-checked: synthesized valid P5 PGM
    // payloads parsed byte-by-byte back to header + pixel stats
    "q89_pgm_decode" -> ((s, d) =>
      Multimodal.decodePgm(Multimodal.pgmFromDocuments(docs(s, d)))
        .toDF().orderBy("media_id")),
    // REAL RIFF/WAVE decode: canonical 44-byte header + 16-bit PCM stats
    "q90_wav_decode" -> ((s, d) =>
      Multimodal.decodeWav(Multimodal.wavFromDocuments(docs(s, d)))
        .toDF().orderBy("media_id")),
    // decode -> REAL nearest-neighbor pixel resample -> re-encode ->
    // decode again: the whole image path round-trips through valid bytes
    "q91_pgm_resize" -> ((s, d) =>
      Multimodal.decodePgm(Multimodal.resizePgm(
          Multimodal.pgmFromDocuments(docs(s, d)), outW = 8, outH = 4))
        .toDF().orderBy("media_id")),
    // windowed PCM energy over the decoded samples (partial tail window)
    "q92_wav_energy" -> ((s, d) =>
      Multimodal.wavWindowEnergy(Multimodal.wavFromDocuments(docs(s, d)))
        .orderBy("media_id", "win_idx")),
    // REAL PNG round trip via the JDK's ImageIO: text-derived pixels ->
    // DEFLATE-compressed PNG bytes -> entropy decode -> pixel stats; PNG
    // is lossless so the oracle recomputes the stats from the text
    // (q89's cross-representation check, now through a real compressed
    // bitstream)
    "q97_png_decode" -> ((s, d) =>
      Multimodal.decodeImage(Multimodal.pngFromDocuments(docs(s, d)))
        .toDF().orderBy("media_id")),
    // REAL JPEG decode (DCT+Huffman, lossy): width/height recover
    // exactly; the decoded mean must sit within 2 gray levels of the
    // source-text mean — a tolerance gate only a faithful decode passes
    // (garbage decode, wrong slice, or byte-shifted pixels all miss it)
    "q103_jpeg_decode" -> ((s, d) => {
      val feats = Multimodal.decodeImage(
        Multimodal.jpegFromDocuments(docs(s, d))).toDF()
      val src = docs(s, d).select(col("doc_id").as("media_id"),
        expr("aggregate(transform(sequence(1, 128), i -> " +
          "ascii(substring(rpad(text, 128, ' '), i, 1))), 0L, " +
          "(a, x) -> a + CAST(x AS BIGINT)) * 1000 div 128").as("src_mean"))
      feats.join(src, "media_id")
        .select(col("media_id"), col("width"), col("height"),
          (abs(col("mean_permille") - col("src_mean")) <= lit(2000L))
            .as("mean_close"))
        .orderBy("media_id")
    }),
    // shared-substring dedup: every 9th doc gains a 24-token passage
    // shared within its doc_id % 225 group -> each in-group pair must
    // report its 5 shared 20-token windows (group sizes stay under the
    // df cap at every SF; natural text contributes nothing at window 20)
    "q78_substring_pairs" -> ((s, d) =>
      Dedup.sharedSubstringPairs(
        docs(s, d).select(col("doc_id"),
          when(col("doc_id") % 9 === 4,
            concat(col("text"), lit(" "), concat_ws(" ",
              (0 until 24).map(i => concat(lit(s"sp${i}g"),
                (col("doc_id") % 225).cast("string"))): _*)))
            .otherwise(col("text")).as("text")))
        .orderBy("doc_a", "doc_b")),
    // repeated-span excision (the REMOVAL half of Lee et al. substring
    // dedup, over the same planted corpus as q78): the planted passages
    // occur >= 2x corpus-wide wherever a doc_id % 225 group has >= 2
    // planted members, so those docs lose exactly the appended passage
    // (5 overlapping windows merge into one 24-token cut); singleton
    // groups and natural text survive untouched
    "q237_span_excision" -> ((s, d) =>
      Dedup.exciseRepeatedSpans(
        docs(s, d).select(col("doc_id"),
          when(col("doc_id") % 9 === 4,
            concat(col("text"), lit(" "), concat_ws(" ",
              (0 until 24).map(i => concat(lit(s"sp${i}g"),
                (col("doc_id") % 225).cast("string"))): _*)))
            .otherwise(col("text")).as("text")))
        .orderBy("doc_id")),
    "q45_stratified_sample" -> ((s, d) =>
      TextAnalysis.stratifiedSample(docs(s, d)).orderBy("doc_id")),
    "q46_normalize" -> ((s, d) =>
      TextAnalysis.normalize(docs(s, d)).orderBy("doc_id")),
    "q28_langid" -> ((s, d) =>
      TextAnalysis.langId(docs(s, d)).orderBy("doc_id")),
    "q29_quality" -> ((s, d) =>
      TextAnalysis.quality(docs(s, d)).orderBy("doc_id")),
    "q30_token_count" -> ((s, d) =>
      TextAnalysis.tokenCounts(docs(s, d)).orderBy("doc_id")),
    "q31_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(docs(s, d)).orderBy("doc_id")),
    // Skew.saltedJoin on a deliberately hot derived key: result must equal
    // the plain join (the salt only changes partition placement), which is
    // exactly what the DuckDB oracle computes
    "q39_skew_join" -> ((s, d) => {
      val big = Tables(s, d, "events")
        .select(col("event_id"), col("user_id"),
          pmod(col("user_id"), lit(25L)).as("nkey"))
      val small = Tables(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("nkey"), col("n_name"))
      Skew.saltedJoin(big, small, Seq("nkey"), factor = 8)
        .select(col("event_id"), col("user_id"), col("n_name"))
        .orderBy("event_id")
    }),
    // range join: purchases inside a 30-minute window after an error,
    // bin-bucketed so the plan is an equi join, never a nested loop
    "q42_range_join" -> ((s, d) => {
      val ev = Tables(s, d, "events").withColumn("ts_us", expr("ts DIV 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_us"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          col("ts_us").as("start_us"),
          (col("ts_us") + lit(1800000000L)).as("end_us"))
      RangeJoin.pointInInterval(purchases, errors, Seq("user_id"),
          "ts_us", "start_us", "end_us", binSize = 1800000000L)
        .orderBy("purchase_id", "error_id")
    }),
    // as-of join: each purchase attributed to the user's latest click at or
    // before it (ties to the larger click event_id) — one union + one
    // window pass, no per-row subquery
    "q41_asof_join" -> ((s, d) => {
      val ev = Tables(s, d, "events").withColumn("ts_us", expr("ts DIV 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
      AsofJoin.asofJoin(purchases, clicks, Seq("user_id"), "ts_us", "event_id")
        .orderBy("event_id")
    }),
    // frame extraction through the REAL container: every frame of each
    // multi-frame animated GIF (LZW entropy decode via the JDK's
    // sequence reader) with per-frame pixel stats — q117 samples every
    // 2nd frame, this is the full-coverage variant
    "q40_multimodal_frames" -> ((s, d) =>
      Multimodal.sampleGifFrames(
        Multimodal.gifFromDocuments(docs(s, d)), every = 1)
        .toDF().orderBy("media_id", "frame_idx")),
    // REAL video-frame extraction end to end: text-derived frames ->
    // multi-frame animated GIF (LZW, JDK sequence writer) -> container
    // parse + every-2nd-frame decode -> per-frame stats; GIF is lossless
    // at <= 256 colors so the oracle recomputes each sampled frame's
    // stats from the text substring that frame encodes
    "q117_gif_frames" -> ((s, d) =>
      Multimodal.sampleGifFrames(
        Multimodal.gifFromDocuments(docs(s, d)), every = 2)
        .toDF().orderBy("media_id", "frame_idx")),
    // video keyframe selection: per-frame dHash from the REAL GIF
    // decode, scene change = Hamming vs the previous frame above the
    // near-dup threshold; lag window bounded per clip
    "q219_gif_keyframes" -> ((s, d) =>
      Multimodal.gifKeyframes(Multimodal.gifFromDocuments(docs(s, d)))
        .orderBy("media_id", "frame_idx")),
    // cross-clip frame dedup: the surviving keyframes (frame-unique
    // ids) through the q199 banded Hamming join — two clips sharing a
    // scene surface as a near-dup pair of their keyframes
    "q220_keyframe_neardup" -> ((s, d) =>
      Multimodal.dhashPairs(Multimodal.keyframeHashes(
          Multimodal.gifFromDocuments(docs(s, d))))
        .orderBy("media_a", "media_b")),
    // REAL MP3 frame-layer walk: synthesized valid MPEG-1 Layer III
    // frame streams -> sync/header validation at every computed frame
    // boundary -> per-file rates + exact 1152-samples/frame duration;
    // the oracle replays the metadata from doc_id arithmetic, so only
    // a faithful byte walker agrees (the container half of the MP3
    // story — sample decode stays behind the stub, no codec in the JDK)
    "q118_mp3_meta" -> ((s, d) =>
      Multimodal.mp3Meta(Multimodal.mp3FromDocuments(docs(s, d)))
        .toDF().orderBy("media_id")),
    // REAL H.264 Annex-B NAL walk: start-code scan, forbidden-bit
    // check, nal_unit_type classification, per-NAL payload accounting
    "q119_h264_nals" -> ((s, d) =>
      Multimodal.h264Meta(Multimodal.annexbFromDocuments(docs(s, d)))
        .toDF().orderBy("media_id")),
    // G.711 mu-law telephony WAV: genuine RIFF parse (format tag 7,
    // 8-bit mono) + CCITT segment-expansion to linear PCM — compressed
    // audio decoded with pure public table math, no codec library
    "q193_g711_ulaw" -> ((s, d) =>
      Multimodal.decodeG711(
          Multimodal.g711FromDocuments(docs(s, d), "ulaw"))
        .toDF().orderBy("media_id")),
    // G.711 A-law twin (format tag 6, XOR-0x55 expansion)
    "q194_g711_alaw" -> ((s, d) =>
      Multimodal.decodeG711(
          Multimodal.g711FromDocuments(docs(s, d), "alaw"))
        .toDF().orderBy("media_id")),
    // histogram equalization as relational arithmetic: per-image
    // histogram + CDF window (<= 256 rows/image) + integer remap —
    // contrast normalization with no per-blob loop
    "q206_hist_equalize" -> ((s, d) =>
      Multimodal.equalizePgm(Multimodal.pgmFromDocuments(docs(s, d)))
        .orderBy("media_id", "px")),
    // blob labeling: thresholded pixels -> 4-connectivity edges by id
    // arithmetic -> ONE distributed CC labels every image's objects in
    // the same run; singleton bright pixels anti-joined back
    "q207_blob_labels" -> ((s, d) =>
      Multimodal.blobLabels(Multimodal.pgmFromDocuments(docs(s, d)))
        .orderBy("media_id")),
    // Walsh-Hadamard perceptual hash: 8x8 block means -> 64 exact
    // integer WHT coefficients -> 63 bits thresholded at their median —
    // pHash's global-frequency fingerprint with a +-1 kernel, one
    // row-local expression chain after decode, zero shuffle
    "q215_image_phash" -> ((s, d) =>
      Multimodal.phash(Multimodal.pgmFromDocuments(docs(s, d)))
        .orderBy("media_id")),
    // perceptual image fingerprint (dHash): 9x8 nearest-neighbor grid,
    // 64 gradient bits in two sign-free 32-bit halves — extracted inside
    // the decode pass, 16 bytes out per image, no pixel explode
    "q198_image_dhash" -> ((s, d) =>
      Multimodal.dhash(Multimodal.pgmFromDocuments(docs(s, d)))
        .toDF().orderBy("media_id")),
    // image near-dup via banded Hamming join over the dHash table:
    // 4x16-bit bands, pigeonhole-exact recall at Hamming <= 3, capped
    // band buckets, keyed verify joins — the multimodal twin of the
    // text LSH chain, never all-pairs
    "q199_image_neardup" -> ((s, d) =>
      Multimodal.dhashPairs(
          Multimodal.dhash(Multimodal.pgmFromDocuments(docs(s, d))).toDF())
        .orderBy("media_a", "media_b")),
    // ABTT embedding isotropy correction: corpus mean + dominant
    // direction (3 integer power iterations, O(dim) driver state)
    // removed from every vector — all-integer, residuals oracle-checked.
    // The resid array is posexploded to (vec_id, j, resid_j) rows: the
    // driver's pandas row-sort cannot order array cells, so query
    // outputs keep scalar columns only (repo-wide convention, round 9)
    "q137_abtt" -> ((s, d) =>
      Embeddings.abtt(emb(s, d))
        .select(col("vec_id"), col("top_coord"),
          posexplode(col("resid")).as(Seq("j", "resid_j")))
        .orderBy("vec_id", "j")),
    // temperature-scaled source mixing (alpha = 0.5): shares
    // proportional to sqrt(per-source tokens), 12k-token overall
    // budget, stateless hash-gate admission
    "q136_temperature_mix" -> ((s, d) =>
      TextAnalysis.temperatureMix(docs(s, d), totalBudget = 12000L)
        .orderBy("source", "doc_id")),
    // canonical-copy selection by centrality: fixed-point integer
    // PageRank (3 iterations) over the verified LSH near-dup graph,
    // fused with connected components — per member: cluster, rank, and
    // whether it's the cluster's canonical pick (max rank, min-id ties)
    "q133_dup_pagerank" -> ((s, d) =>
      Centrality.canonicalByRank(
          Dedup.minhashLshPairs(docs(s, d)).select(col("doc_a"), col("doc_b")))
        .orderBy("doc_id")),
    // PERSISTED canonical dup-graph: q133's keep-one-per-cluster
    // artifact is a production table, not a per-consumer recomputation —
    // written ONCE through the manifest commit log (write-audit-publish;
    // the audit gates on doc_id uniqueness) with doc_id stats recorded,
    // then served from storage. The oracle recomputes the full
    // LSH + CC + PageRank chain, proving stored == recomputed.
    "q195_canonical_persist" -> ((s, d) =>
      graft.lake.ManifestCommit.readTable(s, ensureCanonGraph(s, d))
        .select("doc_id", "component_id", "pr", "is_canonical")
        .orderBy("doc_id")),
    // the q230 split SERVED FROM STORAGE: group keys read from the
    // persisted canonical dup graph (stored == recomputed is q195's
    // oracle), so assigning splits costs one narrow read + a left
    // join + hash arithmetic — the LSH + CC chain never re-runs
    "q231_split_from_storage" -> ((s, d) => {
      val comp = graft.lake.ManifestCommit
        .readTable(s, ensureCanonGraph(s, d))
        .select(col("doc_id"), col("component_id"))
      docs(s, d).select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component_id"), col("doc_id")).as("group_key"))
        .withColumn("bucket", TextKit.md5Long(concat(lit("split:"),
          col("group_key").cast("string"))) % 10)
        .select(col("doc_id"), col("group_key"),
          when(col("bucket") < 8, "train")
            .when(col("bucket") === 8, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    }),
    // manifest-log CHANGE DATA FEED: inserts replayed from exactly the
    // files the append commits added, deletes recovered from the delete
    // commit's consumed files + its recorded key predicate, and the
    // compaction between cursor and head contributing NOTHING — work is
    // one scan of the delta files (zero joins, never ∝ table size),
    // where Cdc.snapshotDiff would full-outer-join two whole snapshots
    "q196_change_feed" -> ((s, d) => {
      val cl = ensureCdfLake(s, d)
      graft.lake.ChangeFeed.changeFeed(s,
          new org.apache.hadoop.fs.Path(cl.path), cl.fromV, cl.toV)
        .select(col("_change_type").as("change_type"), col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        .orderBy("change_type", "o_orderkey")
    }),
    // incremental materialized-aggregate maintenance: the per-custkey
    // additive state stored at the cursor, plus the change feed's
    // signed delta, equals a full recompute at the head — long partials
    // keep the merge bit-exact, and the base table is never rescanned
    "q197_incremental_agg" -> ((s, d) => {
      val cl = ensureCdfLake(s, d)
      graft.lake.ChangeFeed.maintainAdditive(
          s.read.parquet(cl.basePath),
          graft.lake.ChangeFeed.changeFeed(s,
            new org.apache.hadoop.fs.Path(cl.path), cl.fromV, cl.toV),
          Seq("o_custkey"), "o_orderkey", "sum_key", "n_orders")
        .select("o_custkey", "n_orders", "sum_key")
        .orderBy("o_custkey")
    }),
    // incremental materialized-JOIN-view maintenance: the orders ⋈
    // customer view stored at the cursor, plus the fact side's change
    // feed applied last-wins per order key, equals a full join
    // recompute at the head — the stored view is only filtered
    // (broadcast anti-join), the dim streams past the broadcast delta,
    // and the base join is never recomputed
    "q234_incremental_join" -> ((s, d) => {
      val cl = ensureCdfLake(s, d)
      graft.lake.ChangeFeed.maintainJoin(
          s.read.parquet(cl.joinPath),
          graft.lake.ChangeFeed.changeFeed(s,
            new org.apache.hadoop.fs.Path(cl.path), cl.fromV, cl.toV),
          Tables(s, d, "customer").select(
            col("c_custkey").as("o_custkey"),
            col("c_name"), col("c_mktsegment")),
          joinKey = "o_custkey", rowKey = "o_orderkey")
        .orderBy("o_orderkey")
    }),
    // unigram-lexicon tokenizer family (SentencePiece-shaped, integer
    // objective — see Unigram scaladoc): substring lexicon harvested
    // from the DISTINCT-word table (vocabulary-bounded explode)
    "q201_unigram_lexicon" -> ((s, d) =>
      Unigram.lexicon(docs(s, d)).orderBy("piece")),
    // per-word Viterbi segmentation as a 12-round DP join between the
    // position frontier and the lexicon — fewest pieces, then largest
    // frequency sum; all integers, bit-exact cross-engine
    "q202_unigram_segment" -> ((s, d) => {
      val dd = docs(s, d)
      Unigram.segmentWords(dd, Unigram.lexicon(dd)).orderBy("word")
    }),
    // corpus metering under the unigram segmenter: the one
    // corpus-scale pass, a dictionary join like BPE encode
    "q203_unigram_meter" -> ((s, d) => {
      val dd = docs(s, d)
      Unigram.meter(dd, Unigram.lexicon(dd)).orderBy("doc_id")
    }),
    // WordPiece-style greedy longest-match segmentation over the SAME
    // lexicon as q202 — the third subword family; 12 argmax-by-length
    // rounds, one state row per distinct word
    "q244_wordpiece_segment" -> ((s, d) => {
      val dd = docs(s, d)
      Unigram.segmentWordsGreedy(dd, Unigram.lexicon(dd)).orderBy("word")
    }),
    // fertility comparison: greedy (wordpiece) vs optimal (viterbi)
    // tokens per document, with the greedy overhead in ppm — greedy is
    // provably never better, and the measured gap is the price of the
    // faster tokenizer
    "q245_tokenizer_fertility" -> ((s, d) => {
      val dd = docs(s, d)
      Unigram.meterGreedy(dd, Unigram.lexicon(dd)).orderBy("doc_id")
    }),
    // HLL set algebra: audience overlap (viewers who also purchase) by
    // inclusion-exclusion over two register sketches — union registers
    // are element-wise max, the one exact HLL set operation
    "q209_hll_intersect" -> ((s, d) => {
      val ev = events(s, d)
      def regs(t: String) = Sketches.hllRegisters(
        ev.filter(col("event_type") === t), lit("all"), col("user_id"))
      Sketches.hllIntersect(regs("view"), regs("purchase"))
        .orderBy("grp")
    }),
    // exact per-group lower median (rank (n+1) div 2): the profiling
    // truth the mergeable histogram sketch is graded against
    "q208_group_median" -> ((s, d) =>
      Checks.exactGroupMedian(Tables(s, d, "lineitem"),
          "l_returnflag", "l_quantity")
        .orderBy("l_returnflag")),
    // SoftDeDup: duplicates down-weighted by 1/cluster-size instead of
    // dropped — a k-way cluster's total weight matches one document, so
    // the mix equals hard dedup in expectation with every variant kept
    "q204_softdedup" -> ((s, d) =>
      Dedup.softDedupWeights(docs(s, d),
          Dedup.minhashLshPairs(docs(s, d)).select(col("doc_a"), col("doc_b")))
        .orderBy("doc_id")),
    // k-core of the near-dup graph: iterative degree-<2 peeling to
    // fixpoint — pendant pairs drop, cyclic boilerplate families
    // survive with their in-core degree; per-round work tracks the
    // shrinking edge relation, rounds track peeling depth
    "q200_kcore" -> ((s, d) =>
      Components.kCore(
          Dedup.minhashLshPairs(docs(s, d)).select(col("doc_a"), col("doc_b")),
          k = 2)
        .orderBy("doc_id")),
    // deterministic synchronous label propagation: communities INSIDE
    // the near-dup graph (frequency-argmax with min-label ties) — the
    // density lens plain connectivity can't give
    "q213_label_prop" -> ((s, d) =>
      Components.labelPropagation(
          Dedup.minhashLshPairs(docs(s, d)).select(col("doc_a"), col("doc_b")))
        .orderBy("doc_id")),
    // CDC-driven secondary-index maintenance: the stored band index
    // maintained from the change feed alone — deletes removed exactly
    // from complete buckets (stale sentinels rebuilt via one
    // broadcast-filtered banding pass), inserts merged; the unchanged
    // corpus is never re-shingled. Equals a full rebuild from the head
    "q211_feed_index_maintain" -> ((s, d) => {
      val dl = ensureDocLake(s, d)
      val feed = graft.lake.ChangeFeed.changeFeed(s,
        new org.apache.hadoop.fs.Path(dl.path), dl.fromV, dl.toV)
      val idx0 = Dedup.bandIndexRaw(
        graft.lake.ManifestCommit.readTableAt(s, dl.path, dl.fromV))
      Dedup.applyFeedToBandIndex(idx0,
          feed.filter(col("_change_type") === "insert")
            .select("doc_id", "text"),
          feed.filter(col("_change_type") === "delete")
            .select("doc_id", "text"),
          graft.lake.ManifestCommit.readTable(s, dl.path))
        .select(col("band"), col("key"), size(col("ids")).as("n_ids"))
        .orderBy("band", "key")
    }),
    // The same maintenance AS A STREAM: FeedSource tails the commit log
    // one commit per micro-batch (admission control), foreachBatch
    // applies that commit to the persisted index; inductively exact, so
    // the final state shares q211's rebuild oracle
    "q212_stream_index_maintain" -> ((s, d) => {
      val dl = ensureDocLake(s, d)
      graft.streaming.StreamingOps
        .streamFeedIndexMaintain(s, dl.path, dl.fromV)
        .select(col("band"), col("key"), size(col("ids")).as("n_ids"))
        .orderBy("band", "key")
    }),
    // CDC-driven ANN-index maintenance: the IVF-PQ index maintained
    // from the embeddings lake's change feed alone — deletes are plain
    // row drops (one stored row per vector, no cross-vector state),
    // inserts encode against the FROZEN centroids + codebook; searched
    // with external queries, bit-identical to re-encoding the head set
    "q214_feed_ivfpq_maintain" -> ((s, d) => {
      val el = ensureEmbLake(s, d)
      val feed = graft.lake.ChangeFeed.changeFeed(s,
        new org.apache.hadoop.fs.Path(el.path), el.fromV, el.toV)
      val ix0 = Similarity.buildIvfPq(
        graft.lake.ManifestCommit.readTableAt(s, el.path, el.fromV))
      val ix = Similarity.applyFeedToIvfPq(ix0,
        feed.filter(col("_change_type") === "insert")
          .select("vec_id", "embedding"),
        feed.filter(col("_change_type") === "delete").select("vec_id"))
      Similarity.searchIvfPqWith(ix, emb(s, d).filter(col("vec_id") < 10))
        .orderBy("query_id", "rank")
    }),
    // The same ANN maintenance AS A STREAM: FeedSource tails the
    // embeddings lake's commit log one commit per micro-batch, each
    // batch applies that commit to the persisted IVF-PQ index (frozen
    // training written once at cold start); inductively exact, so the
    // final searched state shares q214's batch oracle
    "q216_stream_ivfpq_maintain" -> ((s, d) => {
      val el = ensureEmbLake(s, d)
      val ix = graft.streaming.StreamingOps
        .streamFeedIvfPqMaintain(s, el.path, el.fromV)
      Similarity.searchIvfPqWith(ix, emb(s, d).filter(col("vec_id") < 10))
        .orderBy("query_id", "rank")
    }),
    // DSIR-style importance resampling: hashed-bigram distribution of
    // the English slice vs the whole corpus, integer mean-ratio scores,
    // deterministic top-100 admission
    "q132_importance_resample" -> ((s, d) =>
      Importance.resample(docs(s, d), col("lang") === "en", k = 100)
        .orderBy("doc_id")),
    // mergeable HLL cardinality sketch: distinct users per event type as
    // a fixed-size register table + the raw harmonic estimate — every
    // register and the estimate deterministic cross-engine (md5 hash,
    // integer weights, one shared-literal division)
    "q134_hll_sketch" -> ((s, d) =>
      Sketches.hllEstimate(Sketches.hllRegisters(
          events(s, d), col("event_type"), col("user_id")))
        .withColumnRenamed("grp", "event_type").orderBy("event_type")),
    // merge-equals-rebuild for cardinality state: the event stream split
    // by event-id parity, each half sketched independently, registers
    // merged by element-wise max — hash-matches the straight oracle
    "q135_hll_merge" -> ((s, d) => {
      val ev = events(s, d)
      def half(r: Int) = Sketches.hllRegisters(
        ev.filter(col("event_id") % 2 === r), col("event_type"), col("user_id"))
      Sketches.hllEstimate(Sketches.hllMerge(half(0), half(1)))
        .withColumnRenamed("grp", "event_type").orderBy("event_type")
    }),
    // Gopher rule filter (Rae et al. 2021): the named rule-based
    // document gate — per-rule integer metrics + flags + the composite
    // verdict, all row-local column arithmetic
    "q138_gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherRules(docs(s, d)).orderBy("doc_id")),
    // interpolated Kneser-Ney bigram score: absolute discount D=3/4 in
    // quarter-count units, continuation-probability backoff — unseen
    // continuations get mass the unsmoothed model (q105) scores zero
    "q139_kn_bigram" -> ((s, d) =>
      TextAnalysis.knBigramScore(docs(s, d)).orderBy("doc_id")),
    // SQ8 scalar-quantized ANN: per-dimension corpus min/max -> 8-bit
    // affine codes, integer code-dot shortlist, exact cosine rerank
    "q140_ann_sq8" -> ((s, d) =>
      Similarity.sq8TopK(emb(s, d)).orderBy("query_id", "rank")),
    // Matryoshka truncated-dim ANN: 16-dim prefix integer-dot shortlist
    // (4x fewer bytes in the corpus pass), full-dim exact rerank
    "q141_ann_matryoshka" -> ((s, d) =>
      Similarity.matryoshkaTopK(emb(s, d)).orderBy("query_id", "rank")),
    // binary sign-quantized ANN: 1 bit/dim packed into two 32-bit
    // halves, Hamming-distance shortlist (bit_count of xor — the
    // SimHash angular surrogate), exact cosine rerank; 256 B -> 8 B
    "q235_ann_binary" -> ((s, d) =>
      Similarity.binaryTopK(emb(s, d)).orderBy("query_id", "rank")),
    // hard-negative mining (triplet-loss data prep): per anchor the
    // top-5 highest-cosine OTHER-label candidates + the hardest
    // positive cosine + the FaceNet semi-hard band flag — one corpus
    // stream scores positives and negatives together
    "q236_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(emb(s, d)).orderBy("anchor_id", "rank")),
    // mergeable equi-width histogram quantile sketch: per-language
    // document-length registers folded to integer percentile edges
    "q142_hist_sketch" -> ((s, d) =>
      Sketches.histQuantiles(
          Sketches.histRegisters(docs(s, d), col("lang"), col("n_chars"),
            binWidth = 16L), binWidth = 16L)
        .withColumnRenamed("grp", "lang").orderBy("lang")),
    // merge-equals-rebuild for quantile state: corpus split by doc-id
    // parity, each half sketched independently, registers merged by
    // count addition — hash-matches the straight oracle
    "q143_hist_merge" -> ((s, d) => {
      val dd = docs(s, d)
      def half(r: Int) = Sketches.histRegisters(
        dd.filter(col("doc_id") % 2 === r), col("lang"), col("n_chars"),
        binWidth = 16L)
      Sketches.histQuantiles(Sketches.histMerge(half(0), half(1)),
          binWidth = 16L)
        .withColumnRenamed("grp", "lang").orderBy("lang")
    }),
    // distribution drift monitor: hashed-bigram TVD between two corpus
    // slices (src0 vs src1) — the between-snapshots health check
    "q147_drift" -> ((s, d) =>
      Importance.driftSummary(docs(s, d),
        col("source") === "src0", col("source") === "src1")),
    // mergeable Count-Min frequency sketch: per-user event counts
    // estimated from a 4x1024 register table, probed for users 0..19
    "q144_cms_sketch" -> ((s, d) => {
      val ev = events(s, d)
      Sketches.cmsEstimate(Sketches.cmsRegisters(ev, col("user_id")),
          ev.select(col("user_id").as("probe"))
            .filter(col("probe") < 20).distinct())
        .withColumnRenamed("probe", "user_id").orderBy("user_id")
    }),
    // merge-equals-rebuild for frequency state: events split by id
    // parity, sketched independently, merged by count addition
    "q145_cms_merge" -> ((s, d) => {
      val ev = events(s, d)
      def half(r: Int) = Sketches.cmsRegisters(
        ev.filter(col("event_id") % 2 === r), col("user_id"))
      Sketches.cmsEstimate(Sketches.cmsMerge(half(0), half(1)),
          ev.select(col("user_id").as("probe"))
            .filter(col("probe") < 20).distinct())
        .withColumnRenamed("probe", "user_id").orderBy("user_id")
    }),
    // the generic multimodal feature path over a REAL mixed-format
    // corpus: even docs as binary P5 PGM, odd as DEFLATE-compressed
    // PNG of the same text-derived grid — one kind-dispatched
    // per-partition decode (genuine header parse / ImageIO entropy
    // decode), oracle-replayed from the text pixels (PNG is lossless)
    "q32_multimodal_meta" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.mediaFromDocuments(s, docs(s, d)))
        .toDF().orderBy("media_id")),
    // Z-order (Morton) interleave as a value query: the clustering key a
    // multi-dimension-prunable layout sorts by — pure codegen'd bit
    // arithmetic, hash-gated against DuckDB's own shifts
    "q149_zorder_values" -> ((s, d) =>
      Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y"))
        .withColumn("z", Layout.zValue(col("x"), col("y"), 8))
        .orderBy("z", "l_orderkey", "l_linenumber")),
    // the layout end to end: write lineitem Z-ordered on quantized
    // (partkey, suppkey), read it back through a 2-D box predicate —
    // result equality proves the clustered rewrite is lossless; the
    // file-skipping payoff is pinned by LayoutSpec's footer-stats audit
    "q150_zorder_scan" -> ((s, d) => {
      val z = ensureZLake(s, d)
      val (plo, phi) = boxRange(z.pmin, z.pmax)
      val (slo, shi) = boxRange(z.smin, z.smax)
      s.read.parquet(z.path)
        .filter(col("l_partkey").between(plo, phi) &&
          col("l_suppkey").between(slo, shi))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // MERGE INTO: one collapsed-batch aggregation + one full-outer join
    // applies upserts, deletes, and inserts onto the keyed target
    "q151_cdc_upsert" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      val target = o.filter(col("o_orderkey") % 13 =!= 0)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      val ups = o.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), lit(1L).as("v"), lit("U").as("op"),
          col("o_custkey"), (col("o_totalprice") * 2).as("o_totalprice"),
          lit("X-CDC").as("o_orderpriority"))
      val dels = o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit(2L).as("v"), lit("D").as("op"),
          lit(null).cast("long").as("o_custkey"),
          lit(null).cast("double").as("o_totalprice"),
          lit(null).cast("string").as("o_orderpriority"))
      Cdc.applyChanges(target, ups.unionByName(dels), "o_orderkey", "v")
        .orderBy("o_orderkey")
    }),
    // change data feed: full-outer struct-compare diff of two snapshots;
    // output tracks the CHANGE volume, not the table size
    "q152_snapshot_diff" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      val snapA = o.filter(col("o_orderkey") % 13 =!= 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val snapB = o.filter(col("o_orderkey") % 11 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"),
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      Cdc.snapshotDiff(snapA, snapB, "o_orderkey",
          Seq("o_custkey", "o_totalprice"))
        .select(col("o_orderkey"), col("change_type"),
          col("old_row.o_custkey").as("old_custkey"),
          col("old_row.o_totalprice").as("old_price"),
          col("new_row.o_custkey").as("new_custkey"),
          col("new_row.o_totalprice").as("new_price"))
        .orderBy("o_orderkey")
    }),
    // SCD-2 validity intervals from the event log: per-user history of
    // event_type with no-op updates collapsed
    "q153_scd2" -> ((s, d) =>
      Cdc.scd2(events(s, d).select(col("user_id"),
            expr("ts div 1000").as("ts_us"), col("event_id"),
            col("event_type")),
          "user_id", "ts_us", "event_id", Seq("event_type"))
        .orderBy("user_id", "valid_from")),
    "q154_funnel" -> ((s, d) =>
      Funnel.funnel(events(s, d), Seq("view", "click", "purchase"))
        .orderBy("user_id")),
    // retrieval-quality eval as a relational operator: LSH ANN scored
    // against exact brute-force ground truth — one top-k × top-k join
    "q155_retrieval_eval" -> ((s, d) =>
      Eval.retrievalMetrics(Similarity.bruteTopK(emb(s, d), 10, 5),
          Similarity.lshTopK(emb(s, d), 10, 3))
        .orderBy("query_id")),
    // MOSS winnowing: window-min local fingerprints, rightmost ties —
    // guarantees shared fingerprints on any >= w-token overlap
    "q157_winnowing" -> ((s, d) =>
      TextAnalysis.winnowing(docs(s, d), 4)
        .orderBy("doc_id", "sel_pos")),
    // hard-negative mining for retrieval training: ANN candidates that
    // exact search says are NOT true neighbors — one anti-join between
    // the approximate and exact top-k relations
    "q159_hard_negatives" -> ((s, d) =>
      Similarity.lshTopK(emb(s, d), 10, 5)
        .join(Similarity.bruteTopK(emb(s, d), 10, 2)
            .select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_anti")
        .orderBy("query_id", "rank")),
    // sub-document containment: fresh batch vs corpus via shared
    // winnowing fingerprints, df-capped inverted-index join
    "q160_winnow_containment" -> ((s, d) => {
      val all = docs(s, d)
      TextAnalysis.winnowContainment(
          all.filter(col("doc_id") % 10 =!= 0),
          all.filter(col("doc_id") % 10 === 0))
        .orderBy("doc_a", "doc_b")
    }),
    // cohort retention: users cohorted by first-signup week, activity
    // counted per (cohort, weeks-since) — two user-keyed aggregations
    // and one join, no window
    "q161_cohort_retention" -> ((s, d) => {
      val e = events(s, d).select(col("user_id"),
        expr("(ts div 1000) div 604800000000").as("week"),
        col("event_type"))
      val cohorts = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("week")).as("cohort_week"))
      e.select(col("user_id"), col("week")).distinct()
        .join(cohorts, "user_id")
        .filter(col("week") >= col("cohort_week"))
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_k"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_week", "week_k")
    }),
    // audience bitmaps: per-segment user bitsets as 62-bit words built by
    // ONE bit_or aggregation; pairwise overlap = popcount of word-wise
    // AND — segment state is |users|/62 rows however hot the segment
    "q162_bitmap_segments" -> ((s, d) => {
      val words = events(s, d)
        .select(col("event_type").as("seg"),
          expr("user_id div 62").as("w"),
          expr("shiftleft(1L, cast(user_id % 62 as int))").as("bit"))
        .groupBy("seg", "w")
        .agg(expr("bit_or(bit)").as("bits"))
      val a = words.select(col("seg").as("seg_a"), col("w"),
        col("bits").as("ba"))
      val b = words.select(col("seg").as("seg_b"), col("w"),
        col("bits").as("bb"))
      a.join(b, Seq("w")).filter(col("seg_a") < col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(sum(bit_count(col("ba").bitwiseAND(col("bb"))).cast("long"))
          .as("n_common"))
        .orderBy("seg_a", "seg_b")
    }),
    // fuzzy entity resolution: even-key parts resolve to their best
    // odd-key candidate, blocked on the first name token
    // entity resolution: blocked fuzzy pairing -> connected components
    // (transitive merge) -> canonical pick + survived attribute; total
    // over the input, unmatched records are their own entity
    "q227_entity_resolution" -> ((s, d) => {
      val p = Tables(s, d, "part").select(col("p_partkey").as("key"),
        col("p_name").as("name"),
        split(col("p_name"), " ").getItem(0).as("block"))
      Linkage.entityResolution(p, maxDist = 1).orderBy("key")
    }),
    "q163_fuzzy_match" -> ((s, d) => {
      val p = Tables(s, d, "part").select(col("p_partkey").as("key"),
        col("p_name").as("name"),
        split(col("p_name"), " ").getItem(0).as("block"))
      Linkage.fuzzyResolve(p.filter(col("key") % 2 === 0),
          p.filter(col("key") % 2 === 1), maxDist = 1)
        .orderBy("left_key")
    }),
    // the full lake-format skipping path: the z-ordered lake committed
    // through the manifest WITH per-file column stats; the read resolves
    // the manifest, prunes files by the recorded min/max (zero footer
    // reads), and the row filter finishes the job — same oracle rows as
    // q150, arrived at through manifest pruning instead of a full scan
    "q164_manifest_pruned_scan" -> ((s, d) => {
      val z = ensureZLake(s, d)
      val (plo, phi) = boxRange(z.pmin, z.pmax)
      val (slo, shi) = boxRange(z.smin, z.smax)
      graft.lake.ManifestCommit.readTableWhere(s, z.path,
          Map("l_partkey" -> (plo, phi), "l_suppkey" -> (slo, shi)))
        .filter(col("l_partkey").between(plo, phi) &&
          col("l_suppkey").between(slo, shi))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // the manifest lake as a FIRST-CLASS Spark table: same box query as
    // q164 but from ORDINARY filter predicates — no explicit ranges map.
    // Catalyst pushes the conjuncts into GraftFileIndex.listFiles, which
    // answers from committed manifest stats (file skipping), and the
    // scan itself is stock vectorized parquet
    "q241_fileindex_scan" -> ((s, d) => {
      val z = ensureZLake(s, d)
      val (plo, phi) = boxRange(z.pmin, z.pmax)
      val (slo, shi) = boxRange(z.smin, z.smax)
      graft.lake.GraftFileIndex.table(s, z.path)
        .filter(col("l_partkey").between(plo, phi) &&
          col("l_suppkey").between(slo, shi))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // GDPR targeted delete: the key range is rewritten out of ONLY the
    // stats-intersecting files; the manifest read sees the post-delete
    // table, bit-equal to the logical anti-filter
    "q165_targeted_delete" -> ((s, d) => {
      val dl = ensureDelLake(s, d)
      graft.lake.ManifestCommit.readTable(s, dl.path)
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // time travel: the pre-delete version is still fully readable until
    // GC's grace expires — the manifest log IS the history
    "q166_time_travel" -> ((s, d) => {
      val dl = ensureDelLake(s, d)
      graft.lake.ManifestCommit.readTableAt(s, dl.path, dl.preVersion)
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // snapshot profile diff across the delete boundary: per integer
    // column, both versions' count/null/min/max/distinct + deltas in
    // one aggregation pass per side — the time-travel-powered
    // data-quality regression gate (which columns moved, and how far)
    "q247_profile_diff" -> ((s, d) => {
      val dl = ensureDelLake(s, d)
      graft.ops.Checks.profileDiff(
          graft.lake.ManifestCommit.readTableAt(s, dl.path, dl.preVersion),
          graft.lake.ManifestCommit.readTable(s, dl.path),
          Seq("l_orderkey", "l_partkey", "l_suppkey"))
        .orderBy("column")
    }),
    // merge-on-read delete (deletion vectors): both key ranges leave
    // through positional sidecars — ZERO data-file motion, write cost
    // ∝ deleted rows — and the DV read subtracts the sidecar union
    // with one broadcast anti-join on the parquet row index
    "q238_dv_read" -> ((s, d) => {
      val dv = ensureDvLake(s, d)
      graft.lake.ManifestCommit.readTableDV(s, dv.path)
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // merge-on-read TIME TRAVEL: reading the version BETWEEN the two dv
    // deletes returns that version's LOGICAL state — the first delete's
    // sidecar subtracted, the second not yet committed. A bare file
    // read of the version would resurrect the first delete (the fixed
    // round-11 hole); the oracle sees exactly one range gone
    "q259_time_travel_dv" -> ((s, d) => {
      val dv = ensureDvLake(s, d)
      graft.lake.ManifestCommit.readTableAt(s, dv.path, dv.feedTo - 1)
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // sidecar METADATA compaction: k active sidecars merge into ONE
    // file-sorted parquet in a KindMeta commit (no data file moves, the
    // feed ignores it, expectedDvs guards racing deletes) — every later
    // merge-on-read scan opens one sidecar instead of k, and the
    // logical relation is unchanged
    "q265_dv_sidecar_compact" -> ((s, d) =>
      graft.lake.ManifestCommit.readTableDV(s,
          ensureDvSidecarCompactLake(s, d))
        .orderBy("l_orderkey", "l_linenumber")),
    // copy-on-write conversion: ONE rewrite of only the sidecar-named
    // files amortizes both dv deletes; afterwards the PLAIN manifest
    // read serves the post-delete table and the anti-join cost is gone.
    // Its OWN lake (the applyDvs runs inside the fixture): rewriting
    // q238's shared lake at construction time raced the plan-pinned
    // q238 anti-join when suites build queries concurrently.
    "q239_dv_rewrite" -> ((s, d) =>
      graft.lake.ManifestCommit.readTable(s, ensureDvRewriteLake(s, d))
        .orderBy("l_orderkey", "l_linenumber")),
    // change-feed replay of the dv deletes: the deleted rows come back
    // from the added-sidecar semi-join alone — file-motion-free deletes
    // stay exactly CDC-consumable
    "q240_dv_feed" -> ((s, d) => {
      val dv = ensureDvLake(s, d)
      graft.lake.ChangeFeed.changeFeed(s,
          new org.apache.hadoop.fs.Path(dv.path), dv.feedFrom, dv.feedTo)
        .filter(col("_change_type") === "delete")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // compaction under merge-on-read deletes: the compactor SUBTRACTS
    // the active sidecars during the merge and drops them at commit —
    // the PLAIN manifest read of the compacted table must equal the
    // logical post-delete relation (deleted rows never resurrect
    // through a rewrite that renames/repositions their rows)
    "q248_dv_compact" -> ((s, d) => {
      val l = ensureDvCompactLake(s, d)
      graft.lake.ManifestCommit.readTable(s, l.path)
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // manifest-stat pruning UNDER the deletion-vector subtraction — the
    // production read of a clustered 100 TB table carrying GDPR deletes:
    // a key-window query opens only the stats-intersecting files AND
    // anti-joins the sidecars in the same plan
    "q249_dv_pruned_read" -> ((s, d) => {
      val l = ensureDvPruneLake(s, d)
      val out = graft.lake.ManifestCommit.readTableWhereDV(s, l.path,
          Map("l_orderkey" -> (l.klo, l.prHi)))
        .filter(col("l_orderkey").between(l.klo, l.prHi))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
      val dataFiles = out.inputFiles
        .count(f => !new org.apache.hadoop.fs.Path(f).getName
          .startsWith(graft.lake.ManifestCommit.DvPrefix))
      require(dataFiles < 16,
        s"key window must prune the 16-file layout, scanned $dataFiles")
      out
    }),
    // merge-on-read UPSERT (MERGE: matched keys replaced, new keys
    // inserted) in ONE atomic commit — sidecars delete the old
    // versions, appended files carry the new rows, write amplification
    // O(changed rows); the DV read serves the post-merge table
    "q252_upsert_read" -> ((s, d) => {
      val u = ensureUpsertLake(s, d)
      graft.lake.ManifestCommit.readTableDV(s, u.path)
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // the upsert commit replayed from the log alone: added files =
    // insert rows, added sidecars = delete rows — exact CDC for MERGE
    "q253_upsert_feed" -> ((s, d) => {
      val u = ensureUpsertLake(s, d)
      graft.lake.ChangeFeed.changeFeed(s,
          new org.apache.hadoop.fs.Path(u.path), u.feedFrom, u.feedTo)
        .select(col("_change_type").as("change_type"), col("l_orderkey"),
          col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"))
        .orderBy("change_type", "l_orderkey", "l_linenumber")
    }),
    // table-level exactly-once replication over a Hive-partitioned
    // lake: per leaf, the replica's own txn watermark is the cursor —
    // initial sync, a delta run (inserts in day=1, a merge-on-read
    // delete in day=2), and a proven no-op third run; the replica's
    // DV read must equal the source's logical head
    "q257_replicate_table" -> ((s, d) =>
      graft.lake.ManifestCommit.readTableDV(s, ensureReplTable(s, d))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("day").cast("long").as("day"))
        .orderBy("o_orderkey", "day")),
    // schema-in-manifest evolution: a table recorded at (o_orderkey,
    // o_custkey) takes one additive CDC apply whose batch carries the
    // NEW o_totalprice column (replacing a key slice doubled, plus
    // shifted fresh keys) — the read crosses the evolution boundary
    // through the RECORDED manifest schema (zero footer reads at plan
    // time; the spec pins the zero-job metric), pre-evolution rows
    // surface NULL for the new column
    "q258_schema_evolution" -> ((s, d) =>
      graft.lake.GraftFileIndex.tableDV(s, ensureEvoLake(s, d))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy("o_orderkey")),
    // TABLE-level schema evolution over a MULTI-LEAF Hive-partitioned
    // lake: recordSchemaTable + alterSchemaTable stamp every leaf (a
    // forgotten leaf would silently reintroduce the footer sweep —
    // the FileIndex refuses partially-recorded tables loudly), then a
    // post-evolution batch lands in day=1 only; the read resolves the
    // union schema from per-leaf records alone (zero footer jobs,
    // spec-pinned) and pre-evolution rows surface NULL
    "q261_evolved_table" -> ((s, d) =>
      graft.lake.GraftFileIndex.table(s, ensureEvoTable(s, d))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("day").cast("long").as("day"))
        .orderBy("o_orderkey", "day")),
    // SQL-NATIVE lake surface: CREATE TABLE / INSERT INTO / SELECT
    // through a plain spark.sql session and a registered GraftCatalog —
    // the create records the declared schema, the insert is one atomic
    // stage-and-publish manifest commit, and the read plans straight
    // from the manifest (one InputPartition per live file, columns
    // pruned by name). The aggregate runs THROUGH the SQL surface.
    "q267_sql_catalog" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      ss.sql("""SELECT o_custkey, count(*) AS n_orders,
          CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
            AS sum_price
        FROM graftsql.db.orders_t
        GROUP BY o_custkey ORDER BY o_custkey""")
    }),
    // DELETE FROM through SQL: the box range leaves as ONE positional
    // deletion-vector commit (no file rewrites), and the SQL read is
    // merge-on-read — the sidecar positions subtract inside each
    // touched file's reader
    "q268_sql_delete" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      ss.sql("""SELECT o_orderkey, o_custkey, o_totalprice
        FROM graftsql.db.orders_del ORDER BY o_orderkey""")
    }),
    // STREAMING SQL sink: writeStream.toTable — the orders_t bootstrap
    // feed streams INTO a catalog table; each epoch is one manifest
    // commit carrying the query id as its txn watermark (exactly-once,
    // no sink metadata log); the landed table == the source projection
    "q270_sql_stream_sink" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      sqlStreamSunk.computeIfAbsent(d, _ => {
        ss.sql("""CREATE TABLE graftsql.db.orders_sunk
          (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)""")
        ss.readStream.format("graft.sources.FeedSource")
          .option("path", s"$wh/db/orders_t")
          .option("bootstrap", "true")
          .load()
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .writeStream
          .option("checkpointLocation", s"$wh/db/orders_sunk-ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("graftsql.db.orders_sunk").awaitTermination()
        "done"
      })
      ss.sql("""SELECT o_orderkey, o_custkey, o_totalprice
        FROM graftsql.db.orders_sunk ORDER BY o_orderkey""")
    }),
    // STREAMING SQL read: readStream.table over a catalog table — the
    // first micro-batch is the committed snapshot, offsets are commit
    // versions; the collected stream == the batch read
    "q271_sql_stream_read" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      val name = "sqlrt_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      ss.readStream.table("graftsql.db.orders_t")
        .writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      ss.table(name)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),
    // SQL PARTITIONED table, partition-pruned read: the day=2
    // predicate prunes whole LEAVES at planning (only that leaf's
    // manifest is even opened), and the kept files read through the
    // stock vectorized factory with the partition value appended from
    // the path
    "q272_sql_partitioned" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      ss.sql("""SELECT o_orderkey, o_custkey, o_totalprice, day
        FROM graftsql.db.orders_part WHERE day = 2
        ORDER BY o_orderkey""")
    }),
    // SQL PARTITIONED table, whole-table aggregate across leaves
    "q273_sql_part_agg" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      ss.sql("""SELECT day, count(*) AS n_orders,
          CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
            AS sum_price
        FROM graftsql.db.orders_part GROUP BY day ORDER BY day""")
    }),
    // SQL UPDATE + MERGE + arbitrary-predicate DELETE on a keyed
    // table: each statement landed as ONE atomic merge-on-read
    // applyChangesDV commit (delta-based row-level plan, rowId = the
    // declared key); the final table equals the same transforms
    // computed relationally by the oracle
    "q274_sql_update_merge" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      ss.sql("""SELECT o_orderkey, o_custkey, o_totalprice
        FROM graftsql.db.orders_keyed ORDER BY o_orderkey""")
    }),
    // STREAMING SQL sink into a PARTITIONED table: tasks fan rows out
    // per leaf, each touched leaf commits with its own (queryId,
    // epoch) watermark — exactly-once per leaf, stream-born leaves
    // bootstrap their own logs, and the read is the ordinary
    // leaf-pruned vectorized scan
    "q277_sql_part_stream_sink" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      sqlPartSunk.computeIfAbsent(d, _ => {
        val src = s"$wh/part_src"
        val dirP = new org.apache.hadoop.fs.Path(src)
        val fs = dirP.getFileSystem(ss.sparkContext.hadoopConfiguration)
        graft.ops.Layout.writeLinear(
          Tables(ss, d, "orders")
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice"),
              (col("o_orderkey") % 3 + 1).cast("int").as("day")),
          col("o_orderkey"), src, 2)
        graft.lake.ManifestCommit.bootstrap(fs, dirP)
        graft.lake.ManifestCommit.recordSchema(ss, dirP)
        ss.sql("""CREATE TABLE graftsql.db.orders_psunk
          (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
           day INT) PARTITIONED BY (day)""")
        ss.readStream.format("graft.sources.FeedSource")
          .option("path", src).option("bootstrap", "true")
          .load()
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("day"))
          .writeStream
          .option("checkpointLocation", s"$wh/orders_psunk-ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("graftsql.db.orders_psunk").awaitTermination()
        "done"
      })
      ss.sql("""SELECT o_orderkey, o_custkey, o_totalprice, day
        FROM graftsql.db.orders_psunk ORDER BY o_orderkey""")
    }),
    // PARTITIONED + keyed row-level ops: UPDATE across leaves, a
    // partition-value UPDATE that MOVES rows into a leaf born by the
    // statement, and an arbitrary-predicate DELETE — all per-leaf
    // applyChangesDV commits; the final table equals the relational
    // recomputation
    "q278_sql_part_update" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      ss.sql("""SELECT o_orderkey, o_custkey, o_totalprice, day
        FROM graftsql.db.orders_pkeyed ORDER BY o_orderkey""")
    }),
    // DYNAMIC partitioned INSERT OVERWRITE (a real V2 BatchWrite —
    // tasks fan rows out per leaf, the driver swaps exactly the
    // touched leaves in one KindOverwrite commit each; untouched
    // leaves' commit logs never move — spec-pinned)
    "q279_sql_dyn_overwrite" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      ss.sql("""SELECT o_orderkey, o_custkey, o_totalprice, day
        FROM graftsql.db.orders_dynow ORDER BY o_orderkey""")
    }),
    // arbitrary-predicate DELETE on a KEYLESS table: string equality,
    // IN + OR, LIKE-prefix — each ONE positional deletion-vector
    // commit (no file rewrites), read merge-on-read
    "q280_sql_keyless_delete" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      ss.sql("""SELECT o_orderkey, o_custkey, o_totalprice, tag
        FROM graftsql.db.orders_adel ORDER BY o_orderkey""")
    }),
    // TIMESTAMP AS OF: a wall timestamp captured between the full
    // load and the DV delete resolves (manifest-mtime clock) to the
    // pre-delete commit — the read equals the full load even though
    // the live table has the box range subtracted
    "q282_sql_time_travel_ts" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      val ts: Long = sqlDelPreTs.get(d)
      ss.sql(s"""SELECT o_orderkey, o_custkey, o_totalprice
        FROM graftsql.db.orders_del
        TIMESTAMP AS OF timestamp_millis($ts)
        ORDER BY o_orderkey""")
    }),
    // PARTITIONED TIMESTAMP AS OF: the wall clock is global even
    // though versions are per-leaf — each leaf pins to its own newest
    // commit at or before the timestamp, the leaf born after it
    // (day=9) contributes nothing, and the post-ts DV delete does not
    // subtract
    "q285_sql_part_time_travel" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      val ts: Long = sqlPttTs.get(d)
      ss.sql(s"""SELECT o_orderkey, o_totalprice, day
        FROM graftsql.db.orders_ptt
        TIMESTAMP AS OF timestamp_millis($ts)
        ORDER BY o_orderkey""")
    }),
    // SHOW PARTITIONS: the Hive-leaf layout surfaced through Spark's
    // partition-management API — one directory walk, zero manifest
    // reads, zero jobs (ADD/DROP/TRUNCATE PARTITION are spec-pinned)
    "q287_sql_show_partitions" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      ss.sql("SHOW PARTITIONS graftsql.db.orders_part")
        .orderBy("partition")
    }),
    // column DEFAULTs: CREATE-time defaults fill omitted insert
    // columns; ADD COLUMN DEFAULT fills every pre-existence row at
    // read time from the recorded schema's metadata (both tiers)
    "q288_sql_column_defaults" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      ss.sql("""SELECT o_orderkey, o_custkey, tag, bonus
        FROM graftsql.db.orders_def ORDER BY o_orderkey""")
    }),
    // RENAME COLUMN via column mapping: logical names are SQL's,
    // physical names are the files' — the scan requests physical and
    // serves logical, the filter on the renamed column still prunes
    "q286_sql_rename_column" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      ss.sql("""SELECT o_orderkey, cust, o_totalprice
        FROM graftsql.db.orders_ren WHERE cust >= 0
        ORDER BY o_orderkey""")
    }),
    // atomic CTAS: CREATE TABLE AS SELECT builds the result in a
    // hidden staging sibling (its own manifest log) and publishes
    // with one rename — a failed CTAS leaves no table (spec-pinned)
    "q281_sql_ctas" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      ss.sql("""SELECT o_orderkey, o_custkey, half_price
        FROM graftsql.db.orders_ctas ORDER BY o_orderkey""")
    }),
    // DROP COLUMN: metadata-only — one meta commit narrows the
    // recorded schema, no data file moves; pre-drop files, post-drop
    // files and a post-drop DV delete all serve the surviving columns
    "q283_sql_drop_column" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      ss.sql("""SELECT o_orderkey, o_totalprice
        FROM graftsql.db.orders_dropc ORDER BY o_orderkey""")
    }),
    // Widening ALTER COLUMN TYPE: metadata-only — INT32/FLOAT files
    // written before the widen promote per file at read time (both
    // reader tiers), post-widen files land wide, one table
    "q284_sql_widen_column" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      ss.sql("""SELECT o_orderkey, o_custkey, o_totalprice
        FROM graftsql.db.orders_widen ORDER BY o_orderkey""")
    }),
    // SQL INSERT OVERWRITE: the whole table swaps in ONE
    // KindOverwrite commit — old files consumed, the live deletion
    // vector dropped with them — and the read serves exactly the new
    // projection (the change feed replays alive-rows-as-deletes +
    // new-rows-as-inserts; spec-pinned)
    "q276_sql_insert_overwrite" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      ss.sql("""SELECT o_orderkey, o_custkey, o_totalprice
        FROM graftsql.db.orders_ow ORDER BY o_orderkey""")
    }),
    // STREAMING SQL sink with ARRAY columns: the embeddings projection
    // streams into a catalog table via writeStream.toTable (the
    // Group-API epoch writer emits Spark's standard 3-level LIST
    // encoding) and reads back through the vectorized SQL scan — an
    // embeddings-shaped lake now flows through the pure-SQL surface
    "q275_sql_array_sink" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      sqlArraySunk.computeIfAbsent(d, _ => {
        val src = s"$wh/emb_src"
        val dirP = new org.apache.hadoop.fs.Path(src)
        val fs = dirP.getFileSystem(ss.sparkContext.hadoopConfiguration)
        Tables(ss, d, "embeddings")
          .select("vec_id", "embedding", "label")
          .repartition(2).write.parquet(src)
        graft.lake.ManifestCommit.bootstrap(fs, dirP)
        graft.lake.ManifestCommit.recordSchema(ss, dirP)
        ss.sql("""CREATE TABLE graftsql.db.emb_sunk
          (vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)""")
        ss.readStream.format("graft.sources.FeedSource")
          .option("path", src).option("bootstrap", "true")
          .load().select(col("vec_id"), col("embedding"), col("label"))
          .writeStream
          .option("checkpointLocation", s"$wh/emb_sunk-ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("graftsql.db.emb_sunk").awaitTermination()
        "done"
      })
      ss.sql("""SELECT vec_id, size(embedding) AS dim,
          CAST(element_at(embedding, 1) AS DOUBLE) AS e0, label
        FROM graftsql.db.emb_sunk ORDER BY vec_id""")
    }),
    // SQL time travel: VERSION AS OF the pre-delete commit reads the
    // WHOLE loaded table (the later DV delete's sidecar does not
    // subtract) — the pinned version resolved from the commit history
    "q269_sql_time_travel" -> ((s, d) => {
      val wh = ensureSqlWarehouse(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions"))
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      val delV = graft.lake.ManifestCommit.history(ss,
          new org.apache.hadoop.fs.Path(s"$wh/db/orders_del"))
        .filter(col("kind") === "dvdelete")
        .agg(min(col("version"))).head.getLong(0)
      ss.sql(s"""SELECT o_orderkey, o_custkey, o_totalprice
        FROM graftsql.db.orders_del VERSION AS OF ${delV - 1}
        ORDER BY o_orderkey""")
    }),
    // DESCRIBE HISTORY: the commit log as a relation (driver-side
    // manifest parsing, KBs at any table size) — version/kind/file
    // motion/sidecar counts over the upsert lake's 4-commit history;
    // file counts project to booleans where the writer's partition
    // count would leak into the row
    "q256_table_history" -> ((s, d) => {
      val u = ensureUpsertLake(s, d)
      graft.lake.ManifestCommit.history(s,
          new org.apache.hadoop.fs.Path(u.path))
        .select(col("version"), col("kind"),
          (col("n_added") > 0).as("any_added"), col("n_removed"),
          (col("n_dvs_added") > 0).as("any_dvs"))
        .orderBy("version")
    }),
    // the same pruned merge-on-read read through the Catalyst
    // FileIndex: an ORDINARY WHERE predicate prunes files via manifest
    // stats inside the planner while the sidecar anti-join rides on
    // top — no explicit ranges map (spec pins the scanned-file metric)
    "q251_dv_fileindex" -> ((s, d) => {
      val l = ensureDvPruneLake(s, d)
      graft.lake.GraftFileIndex.tableDV(s, l.path)
        .filter(col("l_orderkey").between(l.klo, l.prHi))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // write-audit-publish: the batch lands invisible, the audit runs
    // over exactly the candidate files, and only a pass commits — the
    // published table IS the audited relation
    "q169_wap_publish" -> ((s, d) => {
      val path = wapLakes.computeIfAbsent(d, _ => {
        val p = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_waplake_qch7dwoux1_${ProcessHandle.current().pid()}/" +
          new java.io.File(d).getName
        val dir = new org.apache.hadoop.fs.Path(p)
        val batch = Tables(s, d, "orders")
          .filter(col("o_orderkey") % 3 === 0)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        // a poisoned batch (null keys) must bounce without a trace…
        val rejected = graft.lake.ManifestCommit.stageAndPublish(s, dir,
          batch.withColumn("o_orderkey",
            when(col("o_orderkey") % 2 === 0, col("o_orderkey"))),
          c => c.filter(col("o_orderkey").isNull).isEmpty)
        require(rejected.isEmpty, "poisoned batch must be rejected")
        // …then the clean batch publishes atomically
        val ok = graft.lake.ManifestCommit.stageAndPublish(s, dir, batch,
          c => c.filter(col("o_orderkey").isNull).isEmpty,
          statsCols = Seq("o_orderkey"))
        require(ok.nonEmpty, "clean batch must publish")
        p
      })
      graft.lake.ManifestCommit.readTable(s, path).orderBy("o_orderkey")
    }),
    // clustered compaction: fragments merge under a RANGE repartition on
    // the key, stats re-recorded — compaction that keeps the layout
    // prunable instead of shredding it
    "q170_clustered_compaction" -> ((s, d) => {
      val path = compactLakes.computeIfAbsent(d, _ => {
        val p = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_compactlake_qch7dwoux1_${ProcessHandle.current().pid()}/" +
          new java.io.File(d).getName
        val part = s"$p/day=1"
        val o = Tables(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        // three fragmented appends, interleaved key ranges
        (0 until 3).foreach { r =>
          o.filter(col("o_orderkey") % 3 === r).coalesce(4)
            .write.mode("append").parquet(part)
        }
        graft.lake.Compaction.compactTableManifest(s, p, maxFiles = 4,
          gcGraceMs = 0L, sortCol = Some("o_orderkey"))
        p
      })
      val b = Tables(s, d, "orders")
        .agg(min("o_orderkey"), max("o_orderkey")).head
      val (lo, hi) = boxRange(b.getLong(0), b.getLong(1))
      graft.lake.ManifestCommit.readTableWhere(s, path,
          Map("o_orderkey" -> (lo, hi)))
        .filter(col("o_orderkey").between(lo, hi))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),
    // EXACT set-similarity join via prefix filtering (SSJoin/ppjoin):
    // rarest-first prefixes generate candidates, pigeonhole guarantees
    // zero loss at the threshold — precision AND recall 1.0, unlike
    // LSH. Gated on the 1/5 subset: on the dup-heavy full corpus the
    // boilerplate token skew floods ANY exact prefix scheme with
    // candidates (843k for 203 true pairs measured at sf0.1) — that
    // adversarial regime is what the capped LSH family exists for;
    // prefix join is the exactness tool for corpora that need it
    "q189_prefix_join" -> ((s, d) =>
      // suffixVerify: the ppjoin+ early-exit merge verify — measured
      // 8.1 s vs 11.6 s at the sf0.1 843k-candidate floor for the
      // identical pair set (ScaleSmoke `ppjoin`); row-exact vs the
      // array_intersect verify is spec-pinned
      Dedup.prefixFilterPairs(
          docs(s, d).filter(col("doc_id") % 5 === 0)
            .select(col("doc_id"),
              when(col("doc_id") % 50 === 0, lit(hotText))
                .otherwise(col("text")).as("text")),
          tau = 0.5, suffixVerify = true)
        .orderBy("doc_a", "doc_b")),
    // declarative data-quality suite (the Deequ idea): five constraints
    // compiled into ONE aggregation pass, tall (check, metric, passed)
    // report out — the relation a WAP audit consumes
    "q188_quality_checks" -> ((s, d) =>
      Checks.run(Tables(s, d, "orders"), Seq(
          Checks.Complete("o_custkey"),
          Checks.Unique("o_orderkey"),
          Checks.InRange("o_totalprice", 0.0, 1.0e7),
          Checks.InSet("o_orderstatus", Seq("F", "O", "P")),
          Checks.MinRows(1)))
        .orderBy("check")),
    // time-series resample (OHLC): per (user, hour) first/last by exact
    // (ts, event_id) order via min_by/max_by, min/max — ONE hash
    // aggregation, no window, no sort
    "q185_ohlc_resample" -> ((s, d) =>
      events(s, d)
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("value"))
        .groupBy(col("user_id"),
          expr("ts_us div 3600000000").as("hour"))
        .agg(min_by(col("value"),
            format_string("%020d%020d", col("ts_us"), col("event_id")))
            .as("open"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          max_by(col("value"),
            format_string("%020d%020d", col("ts_us"), col("event_id")))
            .as("close"),
          count(lit(1)).as("n"))
        .orderBy("user_id", "hour")),
    // gap-fill + forward-fill: materialize every (user, hour) slot in
    // the observed range and carry the last known value forward — the
    // time-series densification join, one generate-range explode + one
    // per-user window
    "q186_gap_fill" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = events(s, d)
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("value"))
        .groupBy(col("user_id"),
          expr("ts_us div 3600000000").as("hour"))
        .agg(max_by(col("value"),
          format_string("%020d%020d", col("ts_us"), col("event_id")))
          .as("v"))
      val spans = hourly.groupBy("user_id")
        .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      val slots = spans.select(col("user_id"),
        explode(sequence(col("h0"), col("h1"))).as("hour"))
      val w = Window.partitionBy("user_id").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      slots.join(hourly, Seq("user_id", "hour"), "left")
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
        .withColumn("is_observed", col("v").isNotNull)
        .select("user_id", "hour", "filled", "is_observed")
        .orderBy("user_id", "hour")
    }),
    // the containment INDEX persisted and reused: corpus fingerprints
    // computed once, stored through the lake, and joined by every fresh
    // batch — same result as the recompute path (q160's oracle)
    "q182_winnow_index_reuse" -> ((s, d) => {
      val path = winnowIndexes.computeIfAbsent(d, _ => {
        val p = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_winnowix_qch7dwoux1_${ProcessHandle.current().pid()}/" +
          new java.io.File(d).getName
        TextAnalysis.winnowing(docs(s, d).filter(col("doc_id") % 10 =!= 0))
          .select(col("doc_id").as("doc_a"), col("sel_hash")).distinct()
          .write.mode("overwrite").parquet(p)
        p
      })
      val fc = s.read.parquet(path)
      val ok = fc.groupBy("sel_hash").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 64).select("sel_hash")
      val fb = TextAnalysis.winnowing(
          docs(s, d).filter(col("doc_id") % 10 === 0))
        .select(col("doc_id").as("doc_b"), col("sel_hash")).distinct()
      fc.join(ok, "sel_hash").join(fb, "sel_hash")
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
        .orderBy("doc_a", "doc_b")
    }),
    // 3x3 box blur as SCATTER-GATHER: each decoded pixel contributes to
    // its neighbors' sums (one bounded explode), one keyed aggregation
    // gathers — convolution without any stencil join, the shape that
    // scales to any kernel and any image count
    "q183_box_blur" -> ((s, d) => {
      val px = Multimodal.pgmPixelRows(
          Multimodal.pgmFromDocuments(docs(s, d)))
        .select(col("media_id"), (col("pos") % 16).as("x"),
          expr("pos div 16").as("y"), col("px"))
      val offsets = array((for { dy <- -1 to 1; dx <- -1 to 1 }
        yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
      px.select(col("media_id"), col("px"), col("x"), col("y"),
          explode(offsets).as("o"))
        .select(col("media_id"), col("px"),
          (col("x") + col("o.dx")).as("tx"),
          (col("y") + col("o.dy")).as("ty"))
        .filter(col("tx").between(0, 15) && col("ty").between(0, 7))
        .groupBy(col("media_id"), (col("ty") * 16 + col("tx")).as("pos"))
        .agg(sum(col("px")).as("ssum"), count(lit(1)).as("cnt"))
        .filter(col("cnt") === 9) // interior pixels only
        .select(col("media_id"), col("pos"),
          expr("ssum div 9").as("blur"))
        .orderBy("media_id", "pos")
    }),
    // pixel histogram: byte-level decode -> relational pixel rows -> one
    // keyed aggregation; image feature math as engine-native columns
    "q179_pixel_histogram" -> ((s, d) =>
      Multimodal.pgmPixelRows(Multimodal.pgmFromDocuments(docs(s, d)))
        .groupBy(col("media_id"), expr("px div 16").as("bin"))
        .agg(count(lit(1)).as("n"))
        .orderBy("media_id", "bin")),
    // audio DSP features over decoded SIGNED PCM: zero-crossing count
    // and lag-1 autocorrelation — exact integers, one per-clip window
    // audio fingerprint (Haitsma-Kalker): sign of the band-energy
    // double-delta over 16-sample WHT windows, packed into one BIGINT
    // per clip — exact-dup audio is a hash groupBy, near-dup a Hamming
    // join, both over 8 bytes/clip, never samples
    "q221_audio_fingerprint" -> ((s, d) =>
      Multimodal.wavFingerprint(Multimodal.wavFromDocuments(docs(s, d)))
        .orderBy("media_id")),
    // windowed WHT filterbank over real PCM bytes: 64 exact-integer
    // coefficients per 64-sample window (zero-padded tail), folded into
    // 4 band absolute-energy sums — frequency-domain audio features
    // inside the decode map, no sample explode, no shuffle
    "q217_wav_wht" -> ((s, d) =>
      Multimodal.wavWhtBands(Multimodal.wavFromDocuments(docs(s, d)))
        .orderBy("media_id", "win")),
    // character-collision diversity (Simpson index): the repetitiveness
    // gate as a RATIONAL function of char counts — exact integer ppm,
    // no engine-library log; shuffle collapses to distinct chars/doc
    "q218_char_diversity" -> ((s, d) =>
      TextAnalysis.charDiversity(docs(s, d)).orderBy("doc_id")),
    "q180_wav_dsp" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("media_id").orderBy("k")
      Multimodal.wavSampleRows(Multimodal.wavFromDocuments(docs(s, d)))
        .withColumn("prev", lag(col("s"), 1).over(w))
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_samples"),
          sum(when((col("prev") >= 0) =!= (col("s") >= 0), 1L)
            .otherwise(0L)).as("zero_crossings"),
          sum(col("prev") * col("s")).as("autocorr_lag1"))
        .orderBy("media_id")
    }),
    // triangle count over the verified near-dup graph — the cohesion
    // metric beyond components: two ordered edge joins over the
    // PERSISTED pair list, never all-pairs
    "q181_triangles" -> ((s, d) =>
      Components.triangleCount(Dedup.minhashLshPairs(docs(s, d)))),
    // 3-D Morton interleave: the n-dim generalization (a 3-column
    // clustered layout prunes boxes in all three dimensions)
    "q176_zorder3" -> ((s, d) =>
      Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_partkey") % 32).as("x"), (col("l_suppkey") % 32).as("y"),
          (col("l_quantity").cast("long") % 32).as("zc"))
        .withColumn("z",
          Layout.zValueN(Seq(col("x"), col("y"), col("zc")), 5))
        .orderBy("z", "l_orderkey", "l_linenumber")),
    // ORC format roundtrip: the lake's columns survive the second
    // built-in columnar format byte-exactly
    "q177_orc_roundtrip" -> ((s, d) => {
      val path = orcLakes.computeIfAbsent(d, _ => {
        val p = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_orclake_qch7dwoux1_${ProcessHandle.current().pid()}/" +
          new java.io.File(d).getName
        Tables(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
            "l_returnflag")
          .write.mode("overwrite").orc(p)
        p
      })
      s.read.orc(path).orderBy("l_orderkey", "l_linenumber")
    }),
    // JSON-lines roundtrip: write integer-microsecond events as JSONL,
    // read back under an explicit schema — the interchange format's
    // numbers and strings survive exactly
    "q178_jsonl_roundtrip" -> ((s, d) => {
      val path = jsonLakes.computeIfAbsent(d, _ => {
        val p = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_jsonlake_qch7dwoux1_${ProcessHandle.current().pid()}/" +
          new java.io.File(d).getName
        events(s, d)
          .select(col("event_id"), expr("ts div 1000").as("ts_us"),
            col("user_id"), col("event_type"))
          .write.mode("overwrite").json(p)
        p
      })
      s.read.schema("event_id LONG, ts_us LONG, user_id LONG, " +
          "event_type STRING")
        .json(path).orderBy("event_id")
    }),
    // blocking-quality eval: the LSH bands' UNVERIFIED candidates scored
    // against exact df-banded near-dup truth — precision is wasted
    // verification work, recall is what the bands can never recover
    "q174_dedup_eval" -> ((s, d) =>
      Eval.pairMetrics(
        Dedup.ngramJaccardPairs(docs(s, d)).select("doc_a", "doc_b"),
        Dedup.minhashLshCandidates(docs(s, d)))),
    // hidden day-partitioning: writers derive the partition from event
    // time, readers query TIME and the range becomes partition pruning
    // + the exact row predicate
    "q173_hidden_partition" -> ((s, d) => {
      val path = dayLakes.computeIfAbsent(d, _ => {
        val p = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_daylake_qch7dwoux1_${ProcessHandle.current().pid()}/" +
          new java.io.File(d).getName
        Layout.writeDayPartitioned(
          events(s, d).select(col("event_id"),
            expr("ts div 1000").as("ts_us"), col("user_id"),
            col("event_type"), col("value")),
          col("ts_us"), p)
        p
      })
      val b = events(s, d)
        .agg(min(expr("ts div 1000")), max(expr("ts div 1000"))).head
      val (lo, hi) = boxRange(b.getLong(0), b.getLong(1))
      Layout.readDayRange(s, path, "ts_us", lo, hi)
        .orderBy("event_id")
    }),
    // bloom-index point lookup on the UNCLUSTERED key of the z-ordered
    // lake: manifest blooms answer `l_orderkey = v` touching only the
    // files that might contain it (min/max can't help — z-order
    // scattered the key)
    "q168_bloom_lookup" -> ((s, d) => {
      val z = ensureZLake(s, d)
      val probe = Tables(s, d, "lineitem")
        .agg(min("l_orderkey"), max("l_orderkey")).head
      val (klo, khi) = (probe.getLong(0), probe.getLong(1))
      val v = Tables(s, d, "lineitem")
        .filter(col("l_orderkey") >= klo + (khi - klo) / 3)
        .agg(min("l_orderkey")).head.getLong(0)
      graft.lake.ManifestCommit.readTableEq(s, z.path, "l_orderkey", v)
        .filter(col("l_orderkey") === v)
        .orderBy("l_orderkey", "l_linenumber")
    }))

  /** Per-(process, sfDir) Z-ordered lineitem copy for q150 — written once,
    * under java.io.tmpdir like the q35 lake dump. Bounds ride along so the
    * box predicate and the oracle derive the SAME integer arithmetic. */
  private[queries] final case class ZLake(path: String, pmin: Long,
    pmax: Long, smin: Long, smax: Long)

  private val zLakes =
    new java.util.concurrent.ConcurrentHashMap[String, ZLake]()

  private def ensureZLake(s: SparkSession, d: String): ZLake =
    zLakes.computeIfAbsent(d, _ => {
      val li = Tables(s, d, "lineitem").select("l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "l_quantity")
      val b = li.agg(min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey")).head
      val z = ZLake(
        s"${System.getProperty("java.io.tmpdir")}/graft_zlake_qch7dwoux1_" +
          s"${ProcessHandle.current().pid()}/${new java.io.File(d).getName}",
        b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      Layout.writeZOrdered(li,
        Layout.quantize(col("l_partkey"), z.pmin, z.pmax, 8),
        Layout.quantize(col("l_suppkey"), z.smin, z.smax, 8),
        8, z.path, 16)
      // manifest-commit the layout with per-file stats so q164 can plan
      // the pruned scan without touching a footer
      val dir = new org.apache.hadoop.fs.Path(z.path)
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      graft.lake.ManifestCommit.bootstrap(fs, dir)
      graft.lake.ManifestCommit.recordStats(s, dir,
        Seq("l_partkey", "l_suppkey"))
      // bloom on the UNCLUSTERED key: min/max stats are useless for
      // l_orderkey here (the z-order scatters it), the bloom is not
      graft.lake.ManifestCommit.recordBlooms(s, dir, "l_orderkey")
      z
    })

  /** The q150 box: the second quarter of the key span, inclusive —
    * integer arithmetic mirrored verbatim in the oracle SQL. */
  private def boxRange(lo: Long, hi: Long): (Long, Long) =
    (lo + (hi - lo) / 4, lo + (hi - lo) / 2)

  /** Per-(process, sfDir) delete/time-travel lake for q165/q166: lineitem
    * range-ordered on l_orderkey, manifest-committed with stats, then the
    * second-quarter key range deleted through the stats-pruned rewrite.
    * `preVersion` is the committed version BEFORE the delete — q166's
    * time-travel target. */
  private[queries] final case class DelLake(path: String, lo: Long,
    hi: Long, preVersion: Long)

  private val delLakes =
    new java.util.concurrent.ConcurrentHashMap[String, DelLake]()

  private val wapLakes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val compactLakes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val dayLakes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val orcLakes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val winnowIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val canonicalGraphs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once canonical dup-graph lake per (process, sfDir) — the
    * q195 producer, shared by every consumer that serves from storage
    * instead of recomputing the LSH + CC + PageRank chain (q231). */
  private[queries] def ensureCanonGraph(s: SparkSession, d: String): String =
    canonicalGraphs.computeIfAbsent(d, _ => {
      import graft.lake.ManifestCommit
      val p = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_canon_qch7dwoux1_${ProcessHandle.current().pid()}/" +
        new java.io.File(d).getName
      val canon = Centrality.canonicalByRank(
        Dedup.minhashLshPairs(docs(s, d))
          .select(col("doc_a"), col("doc_b")))
      val dir = new org.apache.hadoop.fs.Path(p)
      ManifestCommit.stageAndPublish(s, dir, canon,
        df => df.groupBy("doc_id").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).isEmpty,
        statsCols = Seq("doc_id"))
        .getOrElse(sys.error("canonical-graph audit rejected the batch"))
      p
    })

  /** Per-(process, sfDir) change-feed lake for q196/q197: orders landed
    * in three tagged batches with a clustered compaction and a targeted
    * delete between the consumer's cursor and the head. `fromV` is the
    * cursor (the committed version after batch 1's stats recommit);
    * `basePath` stores the per-custkey additive aggregate materialized
    * at that cursor — q197's "never rescan the base table" state. */
  private[queries] final case class CdfLake(path: String, basePath: String,
    joinPath: String, fromV: Long, toV: Long)

  private val cdfLakes =
    new java.util.concurrent.ConcurrentHashMap[String, CdfLake]()

  /** Per-(process, sfDir) DOCUMENTS change-feed lake for q211 — the
    * text-corpus twin of [[ensureCdfLake]]: batches 0+1 land before the
    * cursor, a boxed doc_id range is deleted, batch 2 lands after. */
  private[queries] final case class DocLake(path: String, fromV: Long,
    toV: Long)

  private val docLakes =
    new java.util.concurrent.ConcurrentHashMap[String, DocLake]()

  /** Shared q211/q212 oracle: the maintained (batch or streamed) band
    * index must equal a full DuckDB rebuild over the doc lake's HEAD
    * logical row set — batches 0+1 minus the boxed delete range, plus
    * batch 2 (see [[ensureDocLake]]). */
  private lazy val feedIndexMaintainSql =
    s"""WITH b AS (SELECT min(doc_id) AS klo, max(doc_id) AS khi
         FROM documents),
       headdocs AS (SELECT doc_id, text FROM documents, b
         WHERE doc_id % 3 = 2
            OR doc_id NOT BETWEEN klo + (khi - klo) // 4
              AND klo + (khi - klo) // 2),
       ${SIG_BANDS("headdocs")}
       SELECT band, key,
         CAST(least(count(DISTINCT doc_id), 65) AS INT) AS n_ids
       FROM banded0 GROUP BY band, key ORDER BY band, key"""

  private[queries] def ensureDocLake(s: SparkSession, d: String): DocLake =
    docLakes.computeIfAbsent(d, _ => {
      import graft.lake.ManifestCommit
      val dd = docs(s, d).select("doc_id", "text")
      val b = dd.agg(min("doc_id"), max("doc_id")).head
      val (dlo, dhi) = boxRange(b.getLong(0), b.getLong(1))
      val path = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_doclake_qch7dwouX1_${ProcessHandle.current().pid()}/" +
        new java.io.File(d).getName
      Layout.writeLinear(dd.filter(col("doc_id") % 3 =!= 2),
        col("doc_id"), path, 8)
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      ManifestCommit.bootstrap(fs, dir)
      val fromV = ManifestCommit.recordStats(s, dir, Seq("doc_id")).version
      ManifestCommit.deleteRange(s, dir, "doc_id", dlo, dhi, Seq("doc_id"))
      ManifestCommit.stageAndPublish(s, dir,
        dd.filter(col("doc_id") % 3 === 2), _ => true,
        statsCols = Seq("doc_id"))
        .getOrElse(sys.error("doc lake publish failed"))
      val toV = ManifestCommit.currentSnapshot(fs, dir)
        .getOrElse(sys.error("doc lake has no head")).version
      DocLake(path, fromV, toV)
    })

  /** Shared q230/q231 oracle: near-dup-cluster-keyed 80/10/10 split —
    * q43's pair + closure chain, then per-group md5 bucket
    * arithmetic. q231 reads its group keys from the persisted
    * canonical graph; stored == recomputed is q195's oracle, so the
    * same SQL gates both paths. */
  /** Shared q232/q233 oracle body: the planted-passage documents view,
    * 8-gram windows, the bench slice's distinct hash set, and per-doc
    * collision counts (mirrors Decontam.contamination; `report = true`
    * wraps the per-source rollup of Decontam.report). */
  private def decontamSql(report: Boolean): String = {
    val passage = (0 until 10)
      .map(j => s"'ctm${j}g' || CAST(doc_id % 7 AS VARCHAR)")
      .mkString(" || ' ' || ")
    val win8 = (0 until 8).map(o => s"toks[i+$o]").mkString(" || ' ' || ")
    val body =
      s"""pd AS (SELECT doc_id, source,
           CASE WHEN doc_id % 97 = 0 OR doc_id % 23 = 5
             THEN text || ' ' || $passage ELSE text END AS text
           FROM documents),
         tk AS (SELECT doc_id, source, string_split(text, ' ') AS toks
           FROM pd),
         w AS (SELECT doc_id, unnest(list_transform(
             generate_series(1, len(toks) - 7), i -> $win8)) AS s
           FROM tk),
         bench AS (SELECT DISTINCT ${TextKit.ducksql.md5Long("s")} AS m
           FROM w WHERE doc_id % 97 = 0),
         corp AS (SELECT doc_id, source,
           len(list_distinct(list_transform(
             generate_series(1, len(toks) - 7), i -> $win8))) AS n_grams
           FROM tk WHERE doc_id % 97 <> 0),
         hits AS (SELECT doc_id, count(DISTINCT m) AS n_hit FROM
           (SELECT doc_id, ${TextKit.ducksql.md5Long("s")} AS m FROM w
            WHERE doc_id % 97 <> 0) wm JOIN bench USING (m)
           GROUP BY doc_id),
         res AS (SELECT corp.doc_id, corp.source,
           CAST(corp.n_grams AS BIGINT) AS n_grams,
           CAST(coalesce(hits.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(CASE WHEN corp.n_grams = 0 THEN 0
             ELSE coalesce(hits.n_hit, 0) * 1000000 // corp.n_grams END
             AS BIGINT) AS hit_ppm,
           CAST(CASE WHEN coalesce(hits.n_hit, 0) >= 1 THEN 1 ELSE 0 END
             AS INT) AS contaminated
           FROM corp LEFT JOIN hits ON corp.doc_id = hits.doc_id)"""
    if (report)
      s"""WITH $body
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(contaminated) AS BIGINT) AS n_contaminated,
           CAST(sum(n_hit) AS BIGINT) AS total_hits,
           CAST(sum(contaminated) * 1000000 // count(*) AS BIGINT)
             AS contaminated_ppm
         FROM res GROUP BY source ORDER BY source"""
    else
      s"""WITH $body
         SELECT * FROM res ORDER BY doc_id"""
  }

  private lazy val leakageSafeSplitSql: String = {
    val h = TextKit.ducksql
      .md5Long("'split:' || CAST(group_key AS VARCHAR)")
    s"""WITH RECURSIVE ${MINHASH_CHAIN("documents")},
       e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         UNION SELECT doc_b, doc_a FROM pairs),
       r AS (SELECT a, b FROM e
         UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
       comp AS (SELECT a AS doc_id, least(a, min(b)) AS component_id
         FROM r GROUP BY a),
       g AS (SELECT d.doc_id,
         coalesce(comp.component_id, d.doc_id) AS group_key
         FROM documents d LEFT JOIN comp USING (doc_id)),
       sp AS (SELECT doc_id, group_key, $h % 10 AS bucket FROM g)
       SELECT doc_id, group_key,
         CASE WHEN bucket < 8 THEN 'train'
           WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
       FROM sp ORDER BY doc_id"""
  }

  /** Shared q214/q216 oracle: the feed-maintained (batch or streamed)
    * IVF-PQ search over the emb lake's head row set, with training
    * frozen to the full base snapshot. */
  private lazy val feedIvfPqMaintainSql: String = ivfPqOracle(
    corpusPred = """(vec_id % 10 = 0 OR vec_id NOT BETWEEN
         (SELECT min(vec_id) + (max(vec_id) - min(vec_id)) // 4
          FROM embeddings WHERE vec_id % 10 != 0)
         AND
         (SELECT min(vec_id) + (max(vec_id) - min(vec_id)) // 2
          FROM embeddings WHERE vec_id % 10 != 0))""",
    trainPred = "vec_id % 10 != 0", excludeSelf = false,
    queryCte = s"""qf AS (SELECT vec_id,
         list_transform(embedding, x -> ${TextKit.ducksql.quant("x")})
           AS qqv
         FROM embeddings WHERE vec_id < 10),
       q AS (SELECT vec_id AS query_id, qqv,
         ${dotL("qqv", "qqv")} AS qnsq FROM qf)""")

  /** Per-(process, sfDir) EMBEDDINGS change-feed lake for q214 — the
    * vector twin of [[ensureDocLake]]: the 90% base (vec_id % 10 != 0)
    * lands before the cursor, a boxed vec_id range is deleted, the 10%
    * batch lands after. Head = (base minus box) + the 10%. */
  private[queries] final case class EmbLake(path: String, fromV: Long,
    toV: Long)

  private val embLakes =
    new java.util.concurrent.ConcurrentHashMap[String, EmbLake]()

  private[queries] def ensureEmbLake(s: SparkSession, d: String): EmbLake =
    embLakes.computeIfAbsent(d, _ => {
      import graft.lake.ManifestCommit
      val ee = emb(s, d).select("vec_id", "embedding")
      val base = ee.filter(col("vec_id") % 10 =!= 0)
      val b = base.agg(min("vec_id"), max("vec_id")).head
      val (vlo, vhi) = boxRange(b.getLong(0), b.getLong(1))
      val path = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_emblake_qch7dwouX1_${ProcessHandle.current().pid()}/" +
        new java.io.File(d).getName
      Layout.writeLinear(base, col("vec_id"), path, 8)
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      ManifestCommit.bootstrap(fs, dir)
      val fromV = ManifestCommit.recordStats(s, dir, Seq("vec_id")).version
      ManifestCommit.deleteRange(s, dir, "vec_id", vlo, vhi, Seq("vec_id"))
      ManifestCommit.stageAndPublish(s, dir,
        ee.filter(col("vec_id") % 10 === 0), _ => true,
        statsCols = Seq("vec_id"))
        .getOrElse(sys.error("emb lake publish failed"))
      val toV = ManifestCommit.currentSnapshot(fs, dir)
        .getOrElse(sys.error("emb lake has no head")).version
      EmbLake(path, fromV, toV)
    })

  private[queries] def ensureCdfLake(s: SparkSession, d: String): CdfLake =
    cdfLakes.computeIfAbsent(d, _ => {
      import graft.lake.{Compaction, ManifestCommit}
      val o = Tables(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val b = o.agg(min("o_orderkey"), max("o_orderkey")).head
      val (dlo, dhi) = boxRange(b.getLong(0), b.getLong(1))
      val root = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_cdflake_qch7dwoux1_${ProcessHandle.current().pid()}/" +
        new java.io.File(d).getName
      val path = s"$root/table"
      val basePath = s"$root/agg"
      val joinPath = s"$root/joined"
      // batch 1: key-clustered so the later delete prunes by stats
      Layout.writeLinear(o.filter(col("o_orderkey") % 3 === 0),
        col("o_orderkey"), path, 8)
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      ManifestCommit.bootstrap(fs, dir)
      val fromV = ManifestCommit.recordStats(s, dir, Seq("o_orderkey")).version
      // the consumer's materialized additive state at the cursor (long
      // partials — exactness under add-then-subtract maintenance)
      ManifestCommit.readTableAt(s, path, fromV)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), sum("o_orderkey").as("sum_key"))
        .write.mode("overwrite").parquet(basePath)
      // the consumer's materialized JOIN view at the same cursor (q234)
      ManifestCommit.readTableAt(s, path, fromV)
        .join(Tables(s, d, "customer")
          .select("c_custkey", "c_name", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice",
          "c_name", "c_mktsegment")
        .write.mode("overwrite").parquet(joinPath)
      def publish(r: Int): Unit =
        ManifestCommit.stageAndPublish(s, dir,
          o.filter(col("o_orderkey") % 3 === r), _ => true,
          statsCols = Seq("o_orderkey"))
          .getOrElse(sys.error("cdf batch publish failed"))
      publish(1)
      // a clustered compaction between cursor and head: a REPLACE
      // commit the feed must look straight through. The generous gc
      // grace is the feed horizon: tombstoned pre-compaction files must
      // outlive the slowest consumer's cursor
      Compaction.compactTableManifest(s, path, maxFiles = 4,
        targetFileBytes = 64L * 1024, gcGraceMs = 6L * 3600 * 1000,
        sortCol = Some("o_orderkey"))
      ManifestCommit.deleteRange(s, dir, "o_orderkey", dlo, dhi,
        Seq("o_orderkey"))
      publish(2)
      val toV = ManifestCommit.currentSnapshot(fs, dir)
        .getOrElse(sys.error("cdf lake has no head")).version
      CdfLake(path, basePath, joinPath, fromV, toV)
    })

  private val jsonLakes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ensureDelLake(s: SparkSession, d: String): DelLake =
    delLakes.computeIfAbsent(d, _ => {
      import graft.lake.ManifestCommit
      val li = Tables(s, d, "lineitem").select("l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "l_quantity")
      val b = li.agg(min("l_orderkey"), max("l_orderkey")).head
      val (klo, khi) = (b.getLong(0), b.getLong(1))
      val (dlo, dhi) = boxRange(klo, khi)
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft_dellake_qch7dwoux1_" +
          s"${ProcessHandle.current().pid()}/${new java.io.File(d).getName}"
      Layout.writeLinear(li, col("l_orderkey"), path, 16)
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      ManifestCommit.bootstrap(fs, dir)
      val pre = ManifestCommit.recordStats(s, dir, Seq("l_orderkey")).version
      val (touched, _) = ManifestCommit.deleteRange(s, dir, "l_orderkey",
        dlo, dhi, Seq("l_orderkey"))
      require(touched > 0 && touched < 16,
        s"targeted delete should rewrite a strict subset, rewrote $touched")
      DelLake(path, dlo, dhi, pre)
    })

  /** Per-(process, sfDir) DELETION-VECTOR lake for q238–q240: the same
    * l_orderkey-ordered 16-file lineitem layout as [[ensureDelLake]],
    * but both key ranges leave through [[ManifestCommit.deleteWhereDV]]
    * — no data file moves, the deletes live in positional sidecars, and
    * consumers choose merge-on-read (q238), the change-feed replay
    * (q240), or the copy-on-write conversion (q239). `feedFrom` is the
    * committed version before the first DV delete — the feed cursor. */
  private[queries] final case class DvLake(path: String, lo1: Long,
    hi1: Long, lo2: Long, hi2: Long, feedFrom: Long, feedTo: Long)

  private val dvLakes =
    new java.util.concurrent.ConcurrentHashMap[String, DvLake]()

  private[queries] def ensureDvLake(s: SparkSession, d: String): DvLake =
    dvLakes.computeIfAbsent(d, _ => {
      import graft.lake.ManifestCommit
      val li = Tables(s, d, "lineitem").select("l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "l_quantity")
      val b = li.agg(min("l_orderkey"), max("l_orderkey")).head
      val (klo, khi) = (b.getLong(0), b.getLong(1))
      val (lo1, hi1) = boxRange(klo, khi)
      val (lo2, hi2) = (klo + 3 * (khi - klo) / 5, klo + 7 * (khi - klo) / 10)
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft_dvlake_qch7dwoux1_" +
          s"${ProcessHandle.current().pid()}/${new java.io.File(d).getName}"
      Layout.writeLinear(li, col("l_orderkey"), path, 16)
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      ManifestCommit.bootstrap(fs, dir)
      val pre = ManifestCommit.recordStats(s, dir, Seq("l_orderkey")).version
      val (touched, n1) =
        ManifestCommit.deleteWhereDV(s, dir, "l_orderkey", lo1, hi1)
      require(touched > 0 && touched < 16 && n1 > 0,
        s"dv delete should touch a strict subset ($touched) and rows ($n1)")
      val (_, n2) =
        ManifestCommit.deleteWhereDV(s, dir, "l_orderkey", lo2, hi2)
      require(n2 > 0, "second dv delete must hit rows")
      val head = ManifestCommit.currentSnapshot(fs, dir).get.version
      DvLake(path, lo1, hi1, lo2, hi2, pre, head)
    })

  /** Per-(process, sfDir) lake for q239: the [[ensureDvLake]] double DV
    * delete followed by the [[graft.lake.ManifestCommit.applyDvs]]
    * copy-on-write conversion, ALL inside the fixture — so constructing
    * q239 never mutates the lake q238/q240/q250 read (suites that build
    * every query concurrently raced q238's plan-pinned anti-join). */
  private val dvRwLakes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ensureDvRewriteLake(s: SparkSession, d: String): String =
    dvRwLakes.computeIfAbsent(d, _ => {
      import graft.lake.ManifestCommit
      val li = Tables(s, d, "lineitem").select("l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "l_quantity")
      val b = li.agg(min("l_orderkey"), max("l_orderkey")).head
      val (klo, khi) = (b.getLong(0), b.getLong(1))
      val (lo1, hi1) = boxRange(klo, khi)
      val (lo2, hi2) = (klo + 3 * (khi - klo) / 5, klo + 7 * (khi - klo) / 10)
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft_dvrwlake_qch7dwoux1_" +
          s"${ProcessHandle.current().pid()}/${new java.io.File(d).getName}"
      Layout.writeLinear(li, col("l_orderkey"), path, 16)
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      ManifestCommit.bootstrap(fs, dir)
      ManifestCommit.recordStats(s, dir, Seq("l_orderkey"))
      val (_, n1) = ManifestCommit.deleteWhereDV(s, dir, "l_orderkey", lo1, hi1)
      val (_, n2) = ManifestCommit.deleteWhereDV(s, dir, "l_orderkey", lo2, hi2)
      require(n1 > 0 && n2 > 0, "both dv deletes must hit rows")
      ManifestCommit.applyDvs(s, dir, Seq("l_orderkey"))
      require(ManifestCommit.currentDvs(fs, dir).isEmpty,
        "rewrite must clear every sidecar")
      path
    })

  /** Per-(process, sfDir) lake for q265: the double DV delete followed
    * by SIDECAR compaction ([[graft.lake.ManifestCommit.compactDvs]]) —
    * two sidecars merge into one (metadata-only, no data file moves, a
    * KindMeta commit the feed ignores) and the merge-on-read read must
    * be unchanged. Its own lake (q239's applyDvs precedent: fixtures
    * that mutate must own their lake). */
  private val dvcpLakes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ensureDvSidecarCompactLake(s: SparkSession,
      d: String): String =
    dvcpLakes.computeIfAbsent(d, _ => {
      import graft.lake.ManifestCommit
      val li = Tables(s, d, "lineitem").select("l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "l_quantity")
      val b = li.agg(min("l_orderkey"), max("l_orderkey")).head
      val (klo, khi) = (b.getLong(0), b.getLong(1))
      val (lo1, hi1) = boxRange(klo, khi)
      val (lo2, hi2) = (klo + 3 * (khi - klo) / 5, klo + 7 * (khi - klo) / 10)
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft_dvcplake_qch7dwoux1_" +
          s"${ProcessHandle.current().pid()}/${new java.io.File(d).getName}"
      Layout.writeLinear(li, col("l_orderkey"), path, 16)
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      ManifestCommit.bootstrap(fs, dir)
      ManifestCommit.recordStats(s, dir, Seq("l_orderkey"))
      val (_, n1) = ManifestCommit.deleteWhereDV(s, dir, "l_orderkey", lo1, hi1)
      val (_, n2) = ManifestCommit.deleteWhereDV(s, dir, "l_orderkey", lo2, hi2)
      require(n1 > 0 && n2 > 0, "both dv deletes must hit rows")
      val merged = ManifestCommit.compactDvs(s, dir)
      require(merged >= 2, s"expected >= 2 sidecars merged, got $merged")
      // the sorted rewrite emits one part per non-empty range partition
      // (AQE coalesces these KB-scale sidecars to one; at production
      // scale a handful of 128 MB parts is the desired shape) — the
      // invariant is FEWER opens than the k input sidecars
      val after = ManifestCommit.currentDvs(fs, dir).size
      require(after < merged,
        s"compaction must shrink the active set: $merged -> $after")
      path
    })

  /** Per-(process, sfDir) PARTITIONED replication pair for q257: orders
    * Hive-partitioned by `day = o_orderkey % 2 + 1` (the `day=` leaf
    * form [[graft.lake.Compaction.leafPartitions]] recognizes), replicated
    * leaf-by-leaf via [[graft.lake.ChangeFeed.replicateTable]] (the
    * replica's txn watermark IS the cursor); then `day=1` takes an
    * insert batch and `day=2` a merge-on-read delete, a second
    * replicate applies exactly the delta, and a third must be a
    * PER-LEAF no-op (watermarks current). Returns the replica root. */
  private val replLakes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per-(process, sfDir) Hive-partitioned lake for q264: orders split
    * `day = o_orderkey % 2 + 1`, the table-level consumer cursor taken
    * at the recorded baseline, then one delta — an insert batch into
    * day=1 (even keys % 5 = 0, shifted, price doubled) and a
    * merge-on-read DV delete in day=2 (the box range) — so the
    * TABLE-level streaming feed must surface exactly those
    * inserts+deletes with their partition column attached. */
  private[queries] final case class TableFeedLake(root: String,
    cursors: Map[String, Long])

  private val tfLakes =
    new java.util.concurrent.ConcurrentHashMap[String, TableFeedLake]()

  private[queries] def ensureTableFeedLake(s: SparkSession,
      d: String): TableFeedLake =
    tfLakes.computeIfAbsent(d, _ => {
      import graft.lake.{ChangeFeed, ManifestCommit}
      val o = Tables(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val b = o.agg(min("o_orderkey"), max("o_orderkey")).head
      val (klo, khi) = (b.getLong(0), b.getLong(1))
      val (dlo, dhi) = boxRange(klo, khi)
      val span = khi - klo + 1000000L
      val root = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_tflake_qch7dwoux1_${ProcessHandle.current().pid()}/" +
        new java.io.File(d).getName
      o.withColumn("day", (col("o_orderkey") % 2 + 1).cast("int"))
        .write.partitionBy("day").parquet(root)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq(1, 2).foreach { m =>
        val leaf = new org.apache.hadoop.fs.Path(s"$root/day=$m")
        ManifestCommit.bootstrap(fs, leaf)
        ManifestCommit.recordStats(s, leaf, Seq("o_orderkey"))
      }
      val cursors = ChangeFeed.tableCursors(s, root)
      ManifestCommit.stageAndPublish(s,
        new org.apache.hadoop.fs.Path(s"$root/day=1"),
        o.filter(col("o_orderkey") % 2 === 0 && col("o_orderkey") % 5 === 0)
          .select((col("o_orderkey") + span).as("o_orderkey"),
            col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice")),
        _ => true, statsCols = Seq("o_orderkey"))
        .getOrElse(sys.error("q264 publish failed"))
      ManifestCommit.deleteWhereDV(s,
        new org.apache.hadoop.fs.Path(s"$root/day=2"),
        "o_orderkey", dlo, dhi)
      TableFeedLake(root, cursors)
    })

  private def ensureReplTable(s: SparkSession, d: String): String =
    replLakes.computeIfAbsent(d, _ => {
      import graft.lake.{ChangeFeed, ManifestCommit}
      val o = Tables(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val b = o.agg(min("o_orderkey"), max("o_orderkey")).head
      val (klo, khi) = (b.getLong(0), b.getLong(1))
      val (dlo, dhi) = boxRange(klo, khi)
      val span = khi - klo + 1000000L
      val root = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_repllake_qch7dwoux1_${ProcessHandle.current().pid()}/" +
        new java.io.File(d).getName
      val (srcPath, dstPath) = (s"$root/src", s"$root/dst")
      o.withColumn("day", (col("o_orderkey") % 2 + 1).cast("int"))
        .write.partitionBy("day").parquet(srcPath)
      val fs = new org.apache.hadoop.fs.Path(srcPath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq(1, 2).foreach { m =>
        val leaf = new org.apache.hadoop.fs.Path(s"$srcPath/day=$m")
        ManifestCommit.bootstrap(fs, leaf)
        ManifestCommit.recordStats(s, leaf, Seq("o_orderkey"))
      }
      val r1 = ChangeFeed.replicateTable(s, srcPath, dstPath,
        "o_orderkey", appId = "q257")
      require(r1.size == 2 && r1.forall(_._4), s"initial sync: $r1")
      // delta: inserts land in day=1, a DV delete hits day=2
      ManifestCommit.stageAndPublish(s,
        new org.apache.hadoop.fs.Path(s"$srcPath/day=1"),
        o.filter(col("o_orderkey") % 2 === 0 && col("o_orderkey") % 5 === 0)
          .select((col("o_orderkey") + span).as("o_orderkey"),
            col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice")),
        _ => true, statsCols = Seq("o_orderkey"))
        .getOrElse(sys.error("q257 publish failed"))
      ManifestCommit.deleteWhereDV(s,
        new org.apache.hadoop.fs.Path(s"$srcPath/day=2"),
        "o_orderkey", dlo, dhi)
      val r2 = ChangeFeed.replicateTable(s, srcPath, dstPath,
        "o_orderkey", appId = "q257")
      require(r2.forall(_._4), s"delta must apply to both leaves: $r2")
      val r3 = ChangeFeed.replicateTable(s, srcPath, dstPath,
        "o_orderkey", appId = "q257")
      require(r3.forall(!_._4), s"third run must be a no-op: $r3")
      dstPath
    })

  /** Per-(process, sfDir) lake for q258: orders at (o_orderkey,
    * o_custkey) with a RECORDED manifest schema, then ONE additive
    * [[graft.lake.ManifestCommit.applyChangesDV]] whose batch carries
    * the new `o_totalprice` column — a key slice replaced (custkey
    * doubled) plus shifted fresh keys. The apply must evolve the
    * recorded schema; reads must cross the boundary (old files NULL
    * the new column). All mutation inside the fixture (audit-suite
    * construction must not race). */
  /** Per-(process, sfDir) SQL-catalog warehouse for q267: a namespace
    * and an `orders_t` table created, loaded (two INSERT INTO commits —
    * even keys, then odd), all PURELY through spark.sql against a
    * registered [[graft.lake.GraftCatalog]]. Returns the warehouse
    * dir; the query then aggregates through the same SQL surface. */
  private val sqlWarehouses =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q270's once-per-process guard: the streaming toTable run (a
    * re-run against the same checkpoint is a no-op anyway; the guard
    * just spares the bench the idle restart). */
  private val sqlStreamSunk =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val sqlArraySunk =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val sqlPartSunk =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val sqlDelPreTs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val sqlPttTs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[queries] def ensureSqlWarehouse(s: SparkSession,
      d: String): String =
    sqlWarehouses.computeIfAbsent(d, _ => {
      val wh = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_sqlwh_qch7dwoux1_${ProcessHandle.current().pid()}/" +
        new java.io.File(d).getName
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      ss.conf.set("spark.sql.catalog.graftsql", "graft.lake.GraftCatalog")
      ss.conf.set("spark.sql.catalog.graftsql.warehouse", wh)
      Tables(ss, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("orders_src_q267")
      ss.sql("CREATE NAMESPACE graftsql.db")
      ss.sql("""CREATE TABLE graftsql.db.orders_t
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)""")
      ss.sql("""INSERT INTO graftsql.db.orders_t
        SELECT * FROM orders_src_q267 WHERE o_orderkey % 2 = 0""")
      ss.sql("""INSERT INTO graftsql.db.orders_t
        SELECT * FROM orders_src_q267 WHERE o_orderkey % 2 = 1""")
      // q268's table: same load, then a SQL DELETE of the box range —
      // one positional-sidecar commit; the SQL read must subtract it
      val b = Tables(ss, d, "orders")
        .agg(min("o_orderkey"), max("o_orderkey")).head
      val (dlo, dhi) = boxRange(b.getLong(0), b.getLong(1))
      ss.sql("""CREATE TABLE graftsql.db.orders_del
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)""")
      ss.sql("""INSERT INTO graftsql.db.orders_del
        SELECT * FROM orders_src_q267""")
      // q282's clock: a wall timestamp BETWEEN the full load and the
      // delete — TIMESTAMP AS OF resolves it to the pre-delete commit.
      // The commit clock is the manifest file's mtime (ms granularity),
      // so leave a beat on each side of the capture.
      Thread.sleep(30)
      sqlDelPreTs.put(d, System.currentTimeMillis())
      Thread.sleep(30)
      ss.sql("DELETE FROM graftsql.db.orders_del " +
        s"WHERE o_orderkey >= $dlo AND o_orderkey <= $dhi")
      // q272/q273's table: PARTITIONED BY day — each leaf its own
      // commit-log domain; two inserts land per-leaf append commits
      ss.sql("""CREATE TABLE graftsql.db.orders_part
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
         day INT) PARTITIONED BY (day)""")
      ss.sql("""INSERT INTO graftsql.db.orders_part
        SELECT *, CAST(o_orderkey % 4 + 1 AS INT) AS day
        FROM orders_src_q267 WHERE o_orderkey % 2 = 0""")
      ss.sql("""INSERT INTO graftsql.db.orders_part
        SELECT *, CAST(o_orderkey % 4 + 1 AS INT) AS day
        FROM orders_src_q267 WHERE o_orderkey % 2 = 1""")
      // q274's table: a declared UNIQUE key unlocks the delta-based
      // row-level plans — UPDATE, one MERGE (matched update + shifted
      // not-matched inserts), and an arbitrary-predicate DELETE, each
      // ONE atomic merge-on-read applyChangesDV commit
      val (klo, khi) = (b.getLong(0), b.getLong(1))
      val sliceHi = klo + (khi - klo) / 8
      val shift = khi - klo + 1000000L
      ss.sql("""CREATE TABLE graftsql.db.orders_keyed
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        TBLPROPERTIES ('key'='o_orderkey')""")
      ss.sql("""INSERT INTO graftsql.db.orders_keyed
        SELECT * FROM orders_src_q267""")
      ss.sql("UPDATE graftsql.db.orders_keyed " +
        "SET o_totalprice = o_totalprice + 1000 " +
        s"WHERE o_orderkey >= $dlo AND o_orderkey <= $dhi")
      ss.sql(s"""MERGE INTO graftsql.db.orders_keyed t
        USING (SELECT o_orderkey AS k, CAST(-1 AS BIGINT) AS c,
                 CAST(0.5 AS DOUBLE) AS p
               FROM orders_src_q267 WHERE o_orderkey <= $sliceHi
               UNION ALL
               SELECT o_orderkey + $shift AS k, CAST(-1 AS BIGINT) AS c,
                 CAST(0.5 AS DOUBLE) AS p
               FROM orders_src_q267 WHERE o_orderkey <= $sliceHi) s
        ON t.o_orderkey = s.k
        WHEN MATCHED THEN UPDATE SET o_custkey = s.c
        WHEN NOT MATCHED THEN
          INSERT (o_orderkey, o_custkey, o_totalprice)
          VALUES (s.k, s.c, s.p)""")
      ss.sql("DELETE FROM graftsql.db.orders_keyed " +
        "WHERE o_custkey = -1 AND o_orderkey % 3 = 0")
      // q278's table: PARTITIONED + keyed — row-level changes route
      // per leaf, and a partition-value UPDATE moves rows into a
      // brand-new leaf (day=4 is born by the UPDATE itself)
      ss.sql("""CREATE TABLE graftsql.db.orders_pkeyed
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
         day INT) PARTITIONED BY (day) TBLPROPERTIES ('key'='o_orderkey')""")
      ss.sql("""INSERT INTO graftsql.db.orders_pkeyed
        SELECT *, CAST(o_orderkey % 3 + 1 AS INT) AS day
        FROM orders_src_q267""")
      ss.sql("UPDATE graftsql.db.orders_pkeyed " +
        "SET o_totalprice = o_totalprice + 1000 " +
        s"WHERE o_orderkey >= $dlo AND o_orderkey <= $dhi")
      ss.sql("UPDATE graftsql.db.orders_pkeyed SET day = 4 " +
        s"WHERE o_orderkey <= $sliceHi")
      ss.sql("DELETE FROM graftsql.db.orders_pkeyed " +
        "WHERE day = 4 AND o_orderkey % 2 = 0")
      // q276's table: loaded, range-DELETEd (a live DV), then INSERT
      // OVERWRITE — one KindOverwrite commit consuming every file and
      // dropping the sidecar; the final content is the new projection
      ss.sql("""CREATE TABLE graftsql.db.orders_ow
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)""")
      ss.sql("""INSERT INTO graftsql.db.orders_ow
        SELECT * FROM orders_src_q267""")
      ss.sql("DELETE FROM graftsql.db.orders_ow " +
        s"WHERE o_orderkey >= $dlo AND o_orderkey <= $dhi")
      ss.sql("""INSERT OVERWRITE graftsql.db.orders_ow
        SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
        FROM orders_src_q267 WHERE o_orderkey % 5 = 0""")
      // q279's table: PARTITIONED, then a DYNAMIC INSERT OVERWRITE —
      // only the leaves the data touches (day <= 2) swap, each in ONE
      // KindOverwrite commit; day 3/4 keep their original rows and
      // their commit logs never move
      ss.sql("""CREATE TABLE graftsql.db.orders_dynow
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
         day INT) PARTITIONED BY (day)""")
      ss.sql("""INSERT INTO graftsql.db.orders_dynow
        SELECT *, CAST(o_orderkey % 4 + 1 AS INT) AS day
        FROM orders_src_q267""")
      ss.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try ss.sql("""INSERT OVERWRITE graftsql.db.orders_dynow
        SELECT o_orderkey, o_custkey, o_totalprice * 3 AS o_totalprice,
          CAST(o_orderkey % 4 + 1 AS INT) AS day
        FROM orders_src_q267
        WHERE o_orderkey % 4 <= 1 AND o_orderkey % 3 = 0""")
      finally ss.conf.set("spark.sql.sources.partitionOverwriteMode",
        "static")
      // q280's table: KEYLESS, arbitrary-predicate DELETEs landing as
      // positional deletion-vector commits (no file rewrites) —
      // string equality, IN + OR, and LIKE-prefix + numeric bound
      ss.sql("""CREATE TABLE graftsql.db.orders_adel
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
         tag STRING)""")
      ss.sql("""INSERT INTO graftsql.db.orders_adel
        SELECT *, concat('t', CAST(o_orderkey % 7 AS STRING)) AS tag
        FROM orders_src_q267""")
      ss.sql("DELETE FROM graftsql.db.orders_adel WHERE tag = 't3'")
      ss.sql("DELETE FROM graftsql.db.orders_adel " +
        s"WHERE tag IN ('t1', 't5') OR o_orderkey = $klo")
      ss.sql("DELETE FROM graftsql.db.orders_adel " +
        "WHERE tag LIKE 't6%' AND o_totalprice >= 1000.0")
      // q281's table: atomic CTAS — the whole result builds in a
      // hidden staging dir and publishes with ONE rename
      ss.sql("""CREATE TABLE graftsql.db.orders_ctas AS
        SELECT o_orderkey, o_custkey, o_totalprice * 0.5 AS half_price
        FROM orders_src_q267 WHERE o_orderkey % 2 = 0""")
      // q283's table: DROP COLUMN is metadata-only — the recorded
      // schema narrows in one meta commit, no data file moves; files
      // written before AND after the drop serve the surviving columns,
      // and a post-drop DV delete proves the merge-on-read tier reads
      // the narrowed schema too
      ss.sql("""CREATE TABLE graftsql.db.orders_dropc
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)""")
      ss.sql("""INSERT INTO graftsql.db.orders_dropc
        SELECT * FROM orders_src_q267 WHERE o_orderkey % 2 = 0""")
      ss.sql("ALTER TABLE graftsql.db.orders_dropc DROP COLUMN o_custkey")
      ss.sql("""INSERT INTO graftsql.db.orders_dropc
        SELECT o_orderkey, o_totalprice FROM orders_src_q267
        WHERE o_orderkey % 2 = 1""")
      ss.sql("DELETE FROM graftsql.db.orders_dropc " +
        s"WHERE o_orderkey >= $dlo AND o_orderkey <= $dhi")
      // q284's table: widening ALTER COLUMN TYPE is metadata-only —
      // the first wave's files stay INT32/FLOAT on disk and promote
      // per file at read time (vectorized tier), the second wave lands
      // wide, and a post-widen DV delete routes mixed-width files
      // through the merge-on-read tier's explicit promotion
      ss.sql("""CREATE TABLE graftsql.db.orders_widen
        (o_orderkey INT, o_custkey INT, o_totalprice FLOAT)""")
      ss.sql("""INSERT INTO graftsql.db.orders_widen
        SELECT CAST(o_orderkey AS INT), CAST(o_custkey AS INT),
          CAST(o_totalprice AS FLOAT)
        FROM orders_src_q267 WHERE o_orderkey % 2 = 0""")
      ss.sql("ALTER TABLE graftsql.db.orders_widen " +
        "ALTER COLUMN o_orderkey TYPE BIGINT")
      ss.sql("ALTER TABLE graftsql.db.orders_widen " +
        "ALTER COLUMN o_custkey TYPE DOUBLE")
      ss.sql("ALTER TABLE graftsql.db.orders_widen " +
        "ALTER COLUMN o_totalprice TYPE DOUBLE")
      ss.sql("""INSERT INTO graftsql.db.orders_widen
        SELECT o_orderkey, CAST(o_custkey AS DOUBLE),
          CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE)
        FROM orders_src_q267 WHERE o_orderkey % 2 = 1""")
      ss.sql("DELETE FROM graftsql.db.orders_widen " +
        s"WHERE o_orderkey >= $dlo AND o_orderkey <= $dhi")
      // q285's table: PARTITIONED TIMESTAMP AS OF — version numbers
      // are per-leaf counters, but the wall clock is global: each leaf
      // pins to its own newest commit at or before the timestamp, a
      // leaf born later (day=9) contributes nothing, and a post-ts DV
      // delete must not subtract from the pinned read
      ss.sql("""CREATE TABLE graftsql.db.orders_ptt
        (o_orderkey BIGINT, o_totalprice DOUBLE, day INT)
        PARTITIONED BY (day)""")
      ss.sql("""INSERT INTO graftsql.db.orders_ptt
        SELECT o_orderkey, o_totalprice,
          CAST(o_orderkey % 3 + 1 AS INT) AS day
        FROM orders_src_q267 WHERE o_orderkey % 2 = 0""")
      Thread.sleep(30)
      sqlPttTs.put(d, System.currentTimeMillis())
      Thread.sleep(30)
      ss.sql("""INSERT INTO graftsql.db.orders_ptt
        SELECT o_orderkey, o_totalprice,
          CAST(o_orderkey % 3 + 1 AS INT) AS day
        FROM orders_src_q267 WHERE o_orderkey % 2 = 1""")
      ss.sql("""INSERT INTO graftsql.db.orders_ptt
        SELECT o_orderkey, o_totalprice, CAST(9 AS INT) AS day
        FROM orders_src_q267 WHERE o_orderkey % 10 = 0""")
      ss.sql("DELETE FROM graftsql.db.orders_ptt " +
        s"WHERE o_orderkey >= $dlo AND o_orderkey <= $dhi")
      // q288's table: column DEFAULTs — CREATE-time defaults fill the
      // first wave's omitted columns analyzer-side; ADD COLUMN DEFAULT
      // gives every pre-existence row the constant (filled by the
      // readers from the recorded schema's metadata, both tiers — the
      // DV delete routes old files through the Group tier)
      ss.sql("""CREATE TABLE graftsql.db.orders_def
        (o_orderkey BIGINT, o_custkey BIGINT DEFAULT -1,
         tag STRING DEFAULT 'none')""")
      ss.sql("""INSERT INTO graftsql.db.orders_def (o_orderkey)
        SELECT o_orderkey FROM orders_src_q267 WHERE o_orderkey % 2 = 0""")
      ss.sql("ALTER TABLE graftsql.db.orders_def " +
        "ADD COLUMN bonus BIGINT DEFAULT 7")
      ss.sql("""INSERT INTO graftsql.db.orders_def
        SELECT o_orderkey, o_custkey, 'real', 1
        FROM orders_src_q267 WHERE o_orderkey % 2 = 1""")
      ss.sql("DELETE FROM graftsql.db.orders_def " +
        s"WHERE o_orderkey >= $dlo AND o_orderkey <= $dhi")
      // q286's table: RENAME COLUMN via column mapping — pure
      // metadata (no commit, no file motion); wave 1's files carry
      // the original physical name, wave 2 lands under it too (the
      // writer translates), and the DV delete's recorded predicate
      // speaks the physical name
      ss.sql("""CREATE TABLE graftsql.db.orders_ren
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)""")
      ss.sql("""INSERT INTO graftsql.db.orders_ren
        SELECT * FROM orders_src_q267 WHERE o_orderkey % 2 = 0""")
      ss.sql("ALTER TABLE graftsql.db.orders_ren " +
        "RENAME COLUMN o_custkey TO cust")
      ss.sql("""INSERT INTO graftsql.db.orders_ren
        SELECT o_orderkey, o_custkey AS cust, o_totalprice
        FROM orders_src_q267 WHERE o_orderkey % 2 = 1""")
      ss.sql("DELETE FROM graftsql.db.orders_ren " +
        s"WHERE o_orderkey >= $dlo AND o_orderkey <= $dhi")
      wh
    })

  private val evoLakes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ensureEvoLake(s: SparkSession, d: String): String =
    evoLakes.computeIfAbsent(d, _ => {
      import graft.lake.ManifestCommit
      val full = Tables(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val b = full.agg(min("o_orderkey"), max("o_orderkey")).head
      val (klo, khi) = (b.getLong(0), b.getLong(1))
      val (ulo, uhi) = boxRange(klo, khi)
      val span = khi - klo + 1000000L
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft_evolake_qch7dwoux1_" +
          s"${ProcessHandle.current().pid()}/${new java.io.File(d).getName}"
      Layout.writeLinear(full.select("o_orderkey", "o_custkey"),
        col("o_orderkey"), path, 8)
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      ManifestCommit.bootstrap(fs, dir)
      ManifestCommit.recordStats(s, dir, Seq("o_orderkey"))
      val pre = ManifestCommit.recordSchema(s, dir)
      require(pre.fieldNames.toSeq == Seq("o_orderkey", "o_custkey"),
        s"pre-evolution record: ${pre.simpleString}")
      val slice = full.filter(col("o_orderkey").between(ulo, uhi))
      val batch = slice
        .select(col("o_orderkey"), (col("o_custkey") * 2).as("o_custkey"),
          col("o_totalprice"))
        .unionByName(slice.select(
          (col("o_orderkey") + span).as("o_orderkey"), col("o_custkey"),
          col("o_totalprice")))
      ManifestCommit.applyChangesDV(s, dir, "o_orderkey",
        inserts = batch,
        deleteKeys = batch.select("o_orderkey").limit(0),
        statsCols = Seq("o_orderkey"))
      val post = ManifestCommit.currentSchema(fs, dir)
        .getOrElse(sys.error("evolution must leave a recorded schema"))
      require(post.fieldNames.toSeq ==
        Seq("o_orderkey", "o_custkey", "o_totalprice"),
        s"recorded schema must evolve additively: ${post.simpleString}")
      path
    })

  /** Per-(process, sfDir) MULTI-LEAF evolved table for q261: orders
    * Hive-partitioned by `day = o_orderkey % 2 + 1`, every leaf recorded
    * at (o_orderkey, o_custkey) via
    * [[graft.lake.ManifestCommit.recordSchemaTable]], evolved TABLE-wide
    * via [[graft.lake.ManifestCommit.alterSchemaTable]] (+ o_totalprice,
    * one meta commit per leaf, verified), then one leaf takes a
    * post-evolution batch carrying the new column — the FileIndex read
    * crosses the boundary through the per-leaf records alone (zero
    * footer jobs; the spec pins it and pins that a PARTIALLY-recorded
    * table refuses loudly instead of sweeping footers). */
  private val evoTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ensureEvoTable(s: SparkSession, d: String): String =
    evoTables.computeIfAbsent(d, _ => {
      import graft.lake.ManifestCommit
      import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
      val full = Tables(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val b = full.agg(min("o_orderkey"), max("o_orderkey")).head
      val span = b.getLong(1) - b.getLong(0) + 1000000L
      val root = s"${System.getProperty("java.io.tmpdir")}/" +
        s"graft_evotable_qch7dwoux1_${ProcessHandle.current().pid()}/" +
        new java.io.File(d).getName
      full.select(col("o_orderkey"), col("o_custkey"))
        .withColumn("day", (col("o_orderkey") % 2 + 1).cast("int"))
        .write.partitionBy("day").parquet(root)
      val rp = new org.apache.hadoop.fs.Path(root)
      val fs = rp.getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq("day=1", "day=2").foreach { seg =>
        val leaf = new org.apache.hadoop.fs.Path(root, seg)
        ManifestCommit.bootstrap(fs, leaf)
        ManifestCommit.recordStats(s, leaf, Seq("o_orderkey"))
      }
      val rec = ManifestCommit.recordSchemaTable(s, rp)
      require(rec.fieldNames.toSeq == Seq("o_orderkey", "o_custkey"),
        s"pre-evolution table record: ${rec.simpleString}")
      ManifestCommit.alterSchemaTable(s, rp, StructType(rec.fields :+
        StructField("o_totalprice", DoubleType)))
      ManifestCommit.stageAndPublish(s,
        new org.apache.hadoop.fs.Path(root, "day=1"),
        full.filter(col("o_orderkey") % 5 === 0)
          .select((col("o_orderkey") + span).as("o_orderkey"),
            col("o_custkey"), col("o_totalprice")),
        _ => true, statsCols = Seq("o_orderkey"))
        .getOrElse(sys.error("evoTable: post-evolution publish rejected"))
      root
    })

  /** Per-(process, sfDir) lake for q248: one DV delete, then a manifest
    * compaction — the compactor must subtract the sidecar positions
    * during the merge (NOT carry rows + inert sidecars forward). Its own
    * lake, not [[ensureDvLake]]'s: q239's applyDvs mutates that one. */
  private[queries] final case class DvcLake(path: String)

  private val dvcLakes =
    new java.util.concurrent.ConcurrentHashMap[String, DvcLake]()

  private def ensureDvCompactLake(s: SparkSession, d: String): DvcLake =
    dvcLakes.computeIfAbsent(d, _ => {
      import graft.lake.{Compaction, ManifestCommit}
      val li = Tables(s, d, "lineitem").select("l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "l_quantity")
      val b = li.agg(min("l_orderkey"), max("l_orderkey")).head
      val (lo, hi) = boxRange(b.getLong(0), b.getLong(1))
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft_dvclake_qch7dwoux1_" +
          s"${ProcessHandle.current().pid()}/${new java.io.File(d).getName}"
      Layout.writeLinear(li, col("l_orderkey"), path, 16)
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      ManifestCommit.bootstrap(fs, dir)
      ManifestCommit.recordStats(s, dir, Seq("l_orderkey"))
      val (touched, n) =
        ManifestCommit.deleteWhereDV(s, dir, "l_orderkey", lo, hi)
      require(touched > 0 && n > 0, s"dv delete must hit rows ($touched, $n)")
      val reports = Compaction.compactTableManifest(s, path,
        maxFiles = 4, gcGraceMs = 0L)
      require(reports.nonEmpty, "16 files over maxFiles=4 must compact")
      require(ManifestCommit.currentDvs(fs, dir).isEmpty,
        "compaction must absorb and drop the sidecars")
      DvcLake(path)
    })

  /** Per-(process, sfDir) lake for q249: DV delete over the SECOND
    * quarter, stats on the clustered key, NO compaction — the pruned
    * merge-on-read read ([[graft.lake.ManifestCommit.readTableWhereDV]])
    * gets a window ([klo, prHi], the first 3/8) that both prunes files
    * and overlaps the deleted quarter. */
  private[queries] final case class DvpLake(path: String, klo: Long,
    prHi: Long)

  private val dvpLakes =
    new java.util.concurrent.ConcurrentHashMap[String, DvpLake]()

  /** Per-(process, sfDir) UPSERT lake for q252–q254: lineitem 16-file
    * linear layout on `l_orderkey`, then ONE
    * [[graft.lake.ManifestCommit.upsertDV]] commit that (a) replaces
    * every row of a narrow key slice with a single doubled-quantity
    * line-1 row per key (key-replacement MERGE semantics) and (b)
    * inserts tripled-quantity twins at `key + span` (pure inserts — no
    * current row matches). `feedFrom`/`feedTo` bracket the upsert
    * commit for the change-feed twins. */
  private[queries] final case class UpsLake(path: String, feedFrom: Long,
    feedTo: Long)

  private val upsLakes =
    new java.util.concurrent.ConcurrentHashMap[String, UpsLake]()

  private[queries] def ensureUpsertLake(s: SparkSession, d: String): UpsLake =
    upsLakes.computeIfAbsent(d, _ => {
      import graft.lake.ManifestCommit
      val li = Tables(s, d, "lineitem").select("l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "l_quantity")
      val b = li.agg(min("l_orderkey"), max("l_orderkey")).head
      val (klo, khi) = (b.getLong(0), b.getLong(1))
      val ulo = klo + (khi - klo) / 3
      val uhi = ulo + (khi - klo) / 16
      val span = khi - klo + 1000000L
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft_upslake_qch7dwoux1_" +
          s"${ProcessHandle.current().pid()}/${new java.io.File(d).getName}"
      Layout.writeLinear(li, col("l_orderkey"), path, 16)
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      ManifestCommit.bootstrap(fs, dir)
      val pre = ManifestCommit.recordStats(s, dir, Seq("l_orderkey")).version
      val src = li.filter(col("l_orderkey").between(ulo, uhi) &&
        col("l_linenumber") === 1)
      val updates = src
        .withColumn("l_quantity", col("l_quantity") * 2)
        .unionByName(src.select(
          (col("l_orderkey") + span).as("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          (col("l_quantity") * 3).as("l_quantity")))
      val (touched, nDel) = ManifestCommit.upsertDV(s, dir, "l_orderkey",
        updates, Seq("l_orderkey"))
      require(touched > 0 && nDel > 0,
        s"upsert must match current rows ($touched files, $nDel deleted)")
      UpsLake(path, pre,
        ManifestCommit.currentSnapshot(fs, dir).get.version)
    })

  private def ensureDvPruneLake(s: SparkSession, d: String): DvpLake =
    dvpLakes.computeIfAbsent(d, _ => {
      import graft.lake.ManifestCommit
      val li = Tables(s, d, "lineitem").select("l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "l_quantity")
      val b = li.agg(min("l_orderkey"), max("l_orderkey")).head
      val (klo, khi) = (b.getLong(0), b.getLong(1))
      val (lo, hi) = boxRange(klo, khi)
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft_dvplake_qch7dwoux1_" +
          s"${ProcessHandle.current().pid()}/${new java.io.File(d).getName}"
      Layout.writeLinear(li, col("l_orderkey"), path, 16)
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      ManifestCommit.bootstrap(fs, dir)
      ManifestCommit.recordStats(s, dir, Seq("l_orderkey"))
      val (touched, n) =
        ManifestCommit.deleteWhereDV(s, dir, "l_orderkey", lo, hi)
      require(touched > 0 && n > 0, s"dv delete must hit rows ($touched, $n)")
      DvpLake(path, klo, klo + 3 * (khi - klo) / 8)
    })

  private val tokH = TextKit.ducksql.md5Long("t")

  /** Mirror of Dedup.slotHash: (a_j*(m%P)+b_j) % P over the 60-bit shingle
    * md5 — one md5 per shingle, k integer multiply-adds (constants shared
    * with the Spark side). */
  private val H = (j: Int) =>
    s"(${Dedup.hashA(j)} * (m % ${Dedup.P}) + ${Dedup.hashB(j)}) % ${Dedup.P}"

  /** Shared CTE fragments: distinct (doc, shingle-hash) pairs — the whole
    * Jaccard family runs over the 60-bit hash, mirroring shingleHashes. */
  private def SHINGLES_FROM(src: String) =
    s"""sh AS (SELECT DISTINCT doc_id, ${TextKit.ducksql.md5Long("s")} AS m
         FROM (
         SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-1),
           i -> toks[i] || ' ' || toks[i+1])) AS s
         FROM (SELECT doc_id, string_split(text,' ') AS toks FROM $src)))"""

  private val SHINGLES = SHINGLES_FROM("documents")

  /** Shingle hashes + signatures + band rows over `src` — the shared
    * prefix of the within-corpus and cross-corpus minhash chains. */
  private[queries] def SIG_BANDS(src: String) =
    s"""${SHINGLES_FROM(src)},
       sig AS (SELECT doc_id,
         ${(0 until 8).map(j => s"min(${H(j)}) AS h$j").mkString(", ")}
         FROM sh GROUP BY doc_id),
       banded0 AS (${(0 until 4).map(b =>
           s"SELECT doc_id, $b AS band, h${2*b} * ${Dedup.P} + h${2*b+1} AS key FROM sig")
         .mkString(" UNION ALL ")})"""

  /** MinHash+LSH CTE chain (band width 2, band-bucket cap 64) mirroring
    * Dedup.minhashLshPairs over shingle source `src`, ending with the
    * verified `pairs` CTE. */
  private def MINHASH_CHAIN(src: String) =
    s"""${SIG_BANDS(src)},
       ok AS (SELECT band, key FROM banded0 GROUP BY band, key
         HAVING count(*) <= 64),
       banded AS (SELECT banded0.* FROM banded0 JOIN ok
         ON banded0.band = ok.band AND banded0.key = ok.key),
       cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key
           AND l.doc_id < r.doc_id),
       ${JACCARD_PAIRS(0.6)}"""

  private def MINHASH_BODY(src: String) =
    s"""${MINHASH_CHAIN(src)}
       SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b"""

  /** The q38 hot-cluster rewrite: every 10th doc becomes one identical text
    * (a 500-doc duplicate cluster at sf0.1) — the adversarial dup-heavy
    * shape the band-bucket cap exists for. */
  private[queries] val hotText =
    "the quick brown fox jumps over the lazy dog again and again"

  /** Planted boilerplate for the q67 line-dedup corpus: a shared header
    * line (df ~ 2/3 corpus) and 20 footer-line variants (df ~ corpus/20),
    * both far over the minDf=10 strip threshold. */
  private[queries] val lineHeader = "begin corpus shared boilerplate header"
  private[queries] val lineFooter = "shared footer group "

  /** (id, 5-gram shingle) occurrences over `src(…, text)` — the DuckDB
    * mirror of Dedup.contamination's shinglesOf(text, 5) explode. */
  private def NGRAM5(src: String, id: String) =
    s"""SELECT $id, unnest(list_transform(generate_series(1, len(toks)-4),
       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
         || toks[i+3] || ' ' || toks[i+4])) AS s
       FROM (SELECT $id, string_split(text,' ') AS toks FROM $src)"""

  /** Verified near-dup pairs as a CTE (composable — q43 builds components
    * on top of it). */
  private val JACCARD_PAIRS = (tau: Double) =>
    s"""sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
         FROM cand c JOIN sh a ON a.doc_id = c.doc_a
         JOIN sh b ON b.doc_id = c.doc_b AND a.m = b.m GROUP BY 1, 2),
       pairs AS (SELECT i.doc_a, i.doc_b,
           CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) AS jaccard
         FROM inter i JOIN sizes na ON i.doc_a = na.doc_id
         JOIN sizes nb ON i.doc_b = nb.doc_id
         WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= $tau)"""

  private val JACCARD_TAIL = (tau: Double) =>
    s"""${JACCARD_PAIRS(tau)}
       SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b"""

  private def dotQ(a: String, b: String) = TextKit.ducksql.dotQ(a, b)

  private val EMB_NORM =
    s"""e AS (SELECT vec_id, embedding,
         ${dotQ("embedding", "embedding")} AS nsq FROM embeddings)"""

  /** Mirror of Similarity.ivfTopK's fixed-k k-means quantizer (k=8, 2
    * Lloyd iterations, deterministic hash-rank init, positive-offset
    * integer floor division in the centroid update) + the IVF probe/score
    * tail. All arithmetic is exact integers until the final cosine.
    * `trainMod` > 1 mirrors Similarity.kmeansCentroids' trainSampleMod:
    * init + Lloyd iterations run over the 1/mod md5 hash-sample (`ent`),
    * the final assignment and search over the full corpus. */
  /** Integer dot of two 64-element DuckDB lists. */
  private def dotL(a: String, b: String) =
    s"list_sum(list_transform(generate_series(1, 64), d -> $a[d]*$b[d]))"

  /** Integer dot of two 8-element (PQ subvector) DuckDB lists. */
  private def dot8(a: String, b: String) =
    s"list_sum(list_transform(generate_series(1, 8), d -> $a[d]*$b[d]))"

  private val md5rankVec =
    "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT"

  /** The shared fixed-k k-means CTE chain (k=8, 2 Lloyd iterations,
    * hash-rank init, positive-offset integer floor division), ending in
    * `assigned(vec_id, qv, nsq, cell)` over the FULL corpus and `en`
    * (the quantized corpus) for tails that need it. Mirrors
    * Similarity.kmeansCentroids + assignCells. `trainPred` restricts
    * init + Lloyd training (NOT assignment) to a sub-corpus — the
    * append-without-retrain oracle, where fresh vectors are assigned
    * to centroids trained before they existed. */
  private def kmeansChain(trainMod: Int,
      corpusPred: String = "TRUE", trainPred: String = "TRUE"): String = {
    val sample0 = if (trainMod <= 1) "TRUE" else s"$md5rankVec % $trainMod = 0"
    val sample = s"($sample0) AND ($trainPred)"
    // When training is frozen to a sub-corpus that is NOT a subset of
    // the encode corpus (feed maintenance: training ran on the base
    // snapshot, encode covers the head after deletes), `eq` must carry
    // the UNION of both row sets; the encode-side restriction then
    // happens at `enc` (ivfPqOracle). trainPred == TRUE keeps the old
    // corpus-only scan so existing oracles are byte-stable.
    val eqPred =
      if (trainPred == "TRUE") corpusPred
      else s"($corpusPred) OR ($trainPred)"
    def assign(src: String, cents: String, out: String) =
      s"""$out AS (SELECT vec_id, qv, nsq, cid AS cell FROM (
         SELECT s.vec_id, s.qv, s.nsq, c.cid,
           row_number() OVER (PARTITION BY s.vec_id
             ORDER BY s.nsq + ${dotL("c.cqv", "c.cqv")}
               - 2*${dotL("s.qv", "c.cqv")}, c.cid) AS rn
         FROM $src s, $cents c) WHERE rn = 1)"""
    def update(a: String, prev: String, out: String) =
      s"""${out}_u AS (SELECT cell, d,
           CAST((sum(qv[d] + 1073741824) // count(*)) - 1073741824 AS BIGINT)
             AS cv
         FROM $a, generate_series(1, 64) g(d) GROUP BY cell, d),
         ${out}_c AS (SELECT cell AS cid, list(cv ORDER BY d) AS cqv
           FROM ${out}_u GROUP BY cell),
         $out AS (SELECT * FROM ${out}_c UNION ALL
           SELECT cid, cqv FROM $prev
           WHERE cid NOT IN (SELECT cid FROM ${out}_c))"""
    s"""eq AS (SELECT vec_id,
         list_transform(embedding, x -> ${TextKit.ducksql.quant("x")}) AS qv
         FROM embeddings WHERE $eqPred),
       en AS (SELECT vec_id, qv, ${dotL("qv", "qv")} AS nsq FROM eq),
       ent AS (SELECT * FROM en WHERE $sample),
       c0 AS (SELECT rn - 1 AS cid, qv AS cqv FROM
         (SELECT qv, row_number() OVER (ORDER BY $md5rankVec, vec_id) AS rn
          FROM ent) WHERE rn <= 8),
       ${assign("ent", "c0", "a1")},
       ${update("a1", "c0", "c1")},
       ${assign("ent", "c1", "a2")},
       ${update("a2", "c1", "c2")},
       ${assign("en", "c2", "assigned")}"""
  }

  /** Exact-cosine re-rank tail shared by the PQ/IVF-PQ oracles (mirror
    * of Similarity.rerankTail): ADC top-`rerank` shortlist per query,
    * then exact integer-dot cosine over `en`-shaped quantized vectors,
    * final top-3 by cosine. `scored` must be in scope as
    * (query_id, neighbor_id, adc). */
  private def rerankSql(rerank: Int, en: String): String =
    s"""short AS (SELECT query_id, neighbor_id FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY adc, neighbor_id) AS rn FROM scored)
         WHERE rn <= $rerank),
       resc AS (SELECT s.query_id, s.neighbor_id,
           CAST(${dotL("qn.qv", "nb.qv")} AS DOUBLE) /
             (sqrt(CAST(qn.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))
             AS cosine
         FROM short s JOIN $en nb ON s.neighbor_id = nb.vec_id
           JOIN $en qn ON s.query_id = qn.vec_id)
       SELECT query_id, neighbor_id, cosine, rank FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY cosine DESC, neighbor_id) AS rank FROM resc)
       WHERE rank <= 3 ORDER BY query_id, rank"""

  /** PQ oracle chain, optionally with `trainIters` Lloyd refinement
    * passes over the per-subspace codebooks (mirror of
    * Similarity.refineCodebook — subspace id rides in every key, so all
    * m subspaces train in one relational pass per iteration). `rerank`
    * > 0 swaps the ADC tail for the exact-cosine re-rank. */
  private def pqOracle(trainIters: Int, rerank: Int = 0,
      cbSampleMod: Int = 1): String = {
    // Lloyd refinement reads the 1/mod hash-sample (svt) when sampling;
    // the final encode always reads the full sv — mirror of
    // Similarity.refineCodebook's `sampleMod`.
    val trainSrc = if (cbSampleMod <= 1) "sv" else "svt"
    def assign(src: String, cbn: String, out: String) =
      s"""$out AS (SELECT vec_id, sub, sqv, code FROM (
         SELECT sv.vec_id, sv.sub, sv.sqv, cb.code,
           row_number() OVER (PARTITION BY sv.vec_id, sv.sub
             ORDER BY ${dot8("sv.sqv", "sv.sqv")} + ${dot8("cb.cbv", "cb.cbv")}
               - 2*${dot8("sv.sqv", "cb.cbv")}, cb.code) AS rn
         FROM $src sv JOIN $cbn cb ON sv.sub = cb.sub) WHERE rn = 1)"""
    def update(an: String, prev: String, out: String) =
      s"""${out}_u AS (SELECT sub, code, d,
           CAST((sum(sqv[d] + 1073741824) // count(*)) - 1073741824 AS BIGINT)
             AS cv
         FROM $an, generate_series(1, 8) g(d) GROUP BY sub, code, d),
         ${out}_c AS (SELECT sub, code, list(cv ORDER BY d) AS cbv
           FROM ${out}_u GROUP BY sub, code),
         $out AS (SELECT * FROM ${out}_c UNION ALL
           SELECT p.sub, p.code, p.cbv FROM $prev p
           WHERE NOT EXISTS (SELECT 1 FROM ${out}_c c
             WHERE c.sub = p.sub AND c.code = p.code))"""
    val train = (1 to trainIters).map { i =>
      val prev = s"cb${i - 1}"
      s"${assign(trainSrc, prev, s"pa$i")},\n${update(s"pa$i", prev, s"cb$i")}"
    }.mkString(",\n")
    val cbF = s"cb$trainIters"
    s"""WITH eq AS (SELECT vec_id,
         list_transform(embedding, x -> ${TextKit.ducksql.quant("x")}) AS qv
         FROM embeddings),
       samp AS (SELECT qv, rn FROM (SELECT qv, row_number()
           OVER (ORDER BY $md5rankVec, vec_id) AS rn FROM eq)
         WHERE rn <= 16),
       cb0 AS (SELECT g.s AS sub, samp.rn - 1 AS code,
           list_transform(generate_series(1, 8), i -> qv[g.s*8 + i]) AS cbv
         FROM samp, generate_series(0, 7) g(s)),
       sv AS (SELECT vec_id, g.s AS sub,
           list_transform(generate_series(1, 8), i -> qv[g.s*8 + i]) AS sqv
         FROM eq, generate_series(0, 7) g(s)),
       ${if (cbSampleMod > 1)
        s"svt AS (SELECT * FROM sv WHERE $md5rankVec % $cbSampleMod = 0),"
      else ""}
       ${if (trainIters > 0) train + "," else ""}
       ${assign("sv", cbF, "enc")},
       qt AS (SELECT sv.vec_id AS query_id, sv.sub, cb.code,
           ${dot8("sv.sqv", "sv.sqv")} + ${dot8("cb.cbv", "cb.cbv")}
             - 2*${dot8("sv.sqv", "cb.cbv")} AS dist
         FROM sv JOIN $cbF cb ON sv.sub = cb.sub WHERE sv.vec_id < 10),
       scored AS (SELECT qt.query_id, enc.vec_id AS neighbor_id,
           CAST(sum(qt.dist) AS BIGINT) AS adc
         FROM enc JOIN qt ON enc.sub = qt.sub AND enc.code = qt.code
           AND enc.vec_id != qt.query_id
         GROUP BY qt.query_id, enc.vec_id)${
      if (rerank > 0)
        s""",
       pen AS (SELECT vec_id, qv, ${dotL("qv", "qv")} AS nsq FROM eq),
       ${rerankSql(rerank, "pen")}"""
      else
        """
       SELECT query_id, neighbor_id, adc, rank FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY adc, neighbor_id) AS rank FROM scored)
       WHERE rank <= 3 ORDER BY query_id, rank"""}"""
  }

  /** IVF-PQ oracle: k-means chain over `corpusPred`'s rows, residual
    * codebook + codes, then the probe/ADC tail over `queryCte` (a CTE
    * chain ending in `q(query_id, qqv, qnsq)` — corpus members for q87,
    * independently quantized fresh vectors for q95). `cbTrainIters` > 0
    * Lloyd-refines the residual codebook (mirror of
    * Similarity.refineCodebook over residual subvectors: argmin
    * assignment keyed (vec_id, sub) with code tie-break,
    * positive-offset integer floor-division centroid update, codes that
    * lose all members keep their previous entry). */
  private def ivfPqOracle(corpusPred: String, queryCte: String,
      excludeSelf: Boolean = true, rerank: Int = 0,
      cbTrainIters: Int = 0, admitMaxAdc: Option[Long] = None,
      cbSampleMod: Int = 1, trainPred: String = "TRUE"): String = {
    // Lloyd refinement reads the 1/mod hash-sample (rsvt) when sampling;
    // the final encode always reads the full rsv — mirror of
    // Similarity.refineCodebook's `sampleMod` over residual subvectors.
    // `trainPred` freezes ALL training (k-means, codebook sample, Lloyd)
    // to the base sub-corpus while encode/search cover everything — the
    // mirror of Similarity.appendIvfPq's add-without-retrain.
    val trainSrc =
      if (cbSampleMod <= 1 && trainPred == "TRUE") "rsv" else "rsvt"
    def assign(src: String, cbn: String, out: String) =
      s"""$out AS (SELECT vec_id, sub, sqv, code FROM (
         SELECT rsv.vec_id, rsv.sub, rsv.sqv, cb.code,
           row_number() OVER (PARTITION BY rsv.vec_id, rsv.sub
             ORDER BY ${dot8("rsv.sqv", "rsv.sqv")} + ${dot8("cb.cbv", "cb.cbv")}
               - 2*${dot8("rsv.sqv", "cb.cbv")}, cb.code) AS rn
         FROM $src rsv JOIN $cbn cb ON rsv.sub = cb.sub) WHERE rn = 1)"""
    def update(an: String, prev: String, out: String) =
      s"""${out}_u AS (SELECT sub, code, d,
           CAST((sum(sqv[d] + 1073741824) // count(*)) - 1073741824 AS BIGINT)
             AS cv
         FROM $an, generate_series(1, 8) g(d) GROUP BY sub, code, d),
         ${out}_c AS (SELECT sub, code, list(cv ORDER BY d) AS cbv
           FROM ${out}_u GROUP BY sub, code),
         $out AS (SELECT * FROM ${out}_c UNION ALL
           SELECT p.sub, p.code, p.cbv FROM $prev p
           WHERE NOT EXISTS (SELECT 1 FROM ${out}_c c
             WHERE c.sub = p.sub AND c.code = p.code))"""
    val train = (1 to cbTrainIters).map { i =>
      val prev = s"rcb${i - 1}"
      s"${assign(trainSrc, prev, s"rpa$i")},\n${update(s"rpa$i", prev, s"rcb$i")}"
    }.mkString(",\n")
    val cbF = s"rcb$cbTrainIters"
    s"""WITH ${kmeansChain(1, corpusPred, trainPred)},
       res AS (SELECT a.vec_id, a.cell,
           list_transform(generate_series(1, 64),
             d -> a.qv[d] - c.cqv[d]) AS rv
         FROM assigned a JOIN c2 c ON a.cell = c.cid),
       samp AS (SELECT rv, rn FROM (SELECT rv, row_number()
           OVER (ORDER BY $md5rankVec, vec_id) AS rn FROM res
           WHERE $trainPred)
         WHERE rn <= 16),
       rcb0 AS (SELECT g.s AS sub, samp.rn - 1 AS code,
           list_transform(generate_series(1, 8), i -> rv[g.s*8 + i]) AS cbv
         FROM samp, generate_series(0, 7) g(s)),
       rsv AS (SELECT vec_id, cell, g.s AS sub,
           list_transform(generate_series(1, 8), i -> rv[g.s*8 + i]) AS sqv
         FROM res, generate_series(0, 7) g(s)),
       ${if (trainSrc == "rsvt")
        s"""rsvt AS (SELECT * FROM rsv
             WHERE $md5rankVec % $cbSampleMod = 0 AND ($trainPred)),"""
      else ""}
       ${if (cbTrainIters > 0) train + "," else ""}
       cb AS (SELECT * FROM $cbF),
       enc AS (SELECT vec_id, cell, sub, code FROM (
         SELECT rsv.vec_id, rsv.cell, rsv.sub, cb.code,
           row_number() OVER (PARTITION BY rsv.vec_id, rsv.sub
             ORDER BY ${dot8("rsv.sqv", "rsv.sqv")} + ${dot8("cb.cbv", "cb.cbv")}
               - 2*${dot8("rsv.sqv", "cb.cbv")}, cb.code) AS rn
         FROM rsv JOIN cb ON rsv.sub = cb.sub
         WHERE ($corpusPred)) WHERE rn = 1),
       $queryCte,
       probes AS (SELECT query_id, qqv, cid AS cell FROM (
         SELECT q.query_id, q.qqv, c.cid,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY q.qnsq + ${dotL("c.cqv", "c.cqv")}
               - 2*${dotL("q.qqv", "c.cqv")}, c.cid) AS rn
         FROM q, c2 c) WHERE rn <= 2),
       qres AS (SELECT p.query_id, p.cell,
           list_transform(generate_series(1, 64),
             d -> p.qqv[d] - c.cqv[d]) AS qrv
         FROM probes p JOIN c2 c ON p.cell = c.cid),
       qsv AS (SELECT query_id, cell, g.s AS sub,
           list_transform(generate_series(1, 8), i -> qrv[g.s*8 + i]) AS sqv
         FROM qres, generate_series(0, 7) g(s)),
       qt AS (SELECT qsv.query_id, qsv.cell, qsv.sub, cb.code,
           ${dot8("qsv.sqv", "qsv.sqv")} + ${dot8("cb.cbv", "cb.cbv")}
             - 2*${dot8("qsv.sqv", "cb.cbv")} AS dist
         FROM qsv JOIN cb ON qsv.sub = cb.sub),
       scored AS (SELECT qt.query_id, e0.vec_id AS neighbor_id,
           CAST(sum(qt.dist) AS BIGINT) AS adc
         FROM enc e0 JOIN qt ON e0.cell = qt.cell AND e0.sub = qt.sub
           AND e0.code = qt.code
           ${if (excludeSelf) "AND e0.vec_id != qt.query_id" else ""}
         GROUP BY qt.query_id, e0.vec_id)${
      if (admitMaxAdc.isDefined)
        s"""
       SELECT query_id, neighbor_id, adc FROM scored
       WHERE adc <= ${admitMaxAdc.get}
       ORDER BY query_id, neighbor_id"""
      else if (rerank > 0)
        s""",
       ${rerankSql(rerank, "en")}"""
      else
        """
       SELECT query_id, neighbor_id, adc, rank FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY adc, neighbor_id) AS rank FROM scored)
       WHERE rank <= 3 ORDER BY query_id, rank"""}"""
  }

  /** BPE training chain, mirror of graft.ops.Bpe: word-frequency table,
    * SEP-joined char symbols, `nMerges` unrolled greedy-merge stages
    * (weighted adjacent-pair argmax with lexicographic tie-break, then
    * the Sweeps-fold non-overlapping replace both engines share). Ends
    * in `bws$nMerges(word, cnt, sym)` plus per-stage best pairs
    * `bp1..bp$nMerges(lhs, rhs, n)`. `trainPred` mirrors
    * Bpe.train's doc-level hash-sampling. */
  private def bpeChain(nMerges: Int, trainPred: String = "TRUE"): String = {
    def rep1(e: String): String =
      s"replace($e, chr(31) || p.lhs || chr(31) || p.rhs || chr(31), " +
        s"chr(31) || p.lhs || p.rhs || chr(31))"
    val repN = (1 to graft.functions.BpeMerge.Sweeps)
      .foldLeft("w.sym")((a, _) => rep1(a))
    val stages = (1 to nMerges).map { t =>
      val prev = s"bws${t - 1}"
      s"""bpr$t AS (SELECT syms[i] AS lhs, syms[i + 1] AS rhs,
             CAST(sum(cnt) AS BIGINT) AS n
           FROM (SELECT cnt, syms,
               unnest(generate_series(1, len(syms) - 1)) AS i
             FROM (SELECT cnt, list_filter(string_split(sym, chr(31)),
               x -> x <> '') AS syms FROM $prev))
           GROUP BY 1, 2),
         bp$t AS (SELECT lhs, rhs, n FROM bpr$t
           ORDER BY n DESC, lhs, rhs LIMIT 1),
         bws$t AS (SELECT w.word, w.cnt,
             CASE WHEN p.lhs IS NULL THEN w.sym ELSE $repN END AS sym
           FROM $prev w LEFT JOIN bp$t p ON TRUE)"""
    }.mkString(",\n")
    s"""bwords AS (SELECT unnest(string_split(text, ' ')) AS word
         FROM documents WHERE $trainPred),
       bws0 AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt,
           chr(31) || regexp_replace(word, '(.)', '\\1' || chr(31), 'g')
             AS sym
         FROM bwords WHERE word <> '' GROUP BY word),
       $stages"""
  }

  /** BPE per-doc token-count tail over the chain's final state. Encoding
    * covers EVERY corpus word (mirror of Bpe.tokenCounts' full-corpus
    * dictionary): when training was doc-sampled, out-of-vocabulary words
    * re-run the merge chain from their char split — which for unseen
    * words equals applying each learned rule, so the oracle reuses the
    * full-corpus word relation rebuilt through the same stages. */
  private def bpeCountsSql(nMerges: Int, trainPred: String): String =
    s"""WITH ${bpeChain(nMerges, trainPred)},
       bdict0 AS (SELECT DISTINCT word FROM
         (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE word <> ''),
       ${encodeStages(nMerges)},
       wsf AS (SELECT word, CAST(len(list_filter(string_split(sym, chr(31)),
           x -> x <> '')) AS BIGINT) AS n_sym FROM bdict$nMerges),
       dw AS (SELECT doc_id, word, count(*) AS n FROM
           (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents)
         WHERE word <> '' GROUP BY doc_id, word)
       SELECT d.doc_id, CAST(sum(d.n) AS BIGINT) AS n_words,
         CAST(sum(d.n * w.n_sym) AS BIGINT) AS bpe_tokens,
         CAST(sum(d.n * length(d.word)) AS BIGINT) AS n_chars,
         CAST((sum(d.n * w.n_sym) * 1000) // sum(d.n * length(d.word))
           AS BIGINT) AS ratio_permille
       FROM dw d JOIN wsf w ON d.word = w.word
       GROUP BY d.doc_id ORDER BY doc_id"""

  /** Apply the learned rules bp1..bpN to the FULL-corpus distinct-word
    * dictionary (bdict0) — mirror of Bpe.tokenCounts' dictionary encode. */
  private def encodeStages(nMerges: Int): String = {
    def rep1(e: String): String =
      s"replace($e, chr(31) || p.lhs || chr(31) || p.rhs || chr(31), " +
        s"chr(31) || p.lhs || p.rhs || chr(31))"
    (1 to nMerges).map { t =>
      val prev =
        if (t == 1)
          """(SELECT word,
             chr(31) || regexp_replace(word, '(.)', '\1' || chr(31), 'g')
               AS sym FROM bdict0)"""
        else s"bdict${t - 1}"
      val repN = (1 to graft.functions.BpeMerge.Sweeps).foldLeft("w.sym")((a, _) => rep1(a))
      s"""bdict$t AS (SELECT w.word,
           CASE WHEN p.lhs IS NULL THEN w.sym ELSE $repN END AS sym
         FROM $prev w LEFT JOIN bp$t p ON TRUE)"""
    }.mkString(",\n")
  }

  private def ivfOracle(trainMod: Int): String = {
    s"""WITH ${kmeansChain(trainMod)},
       q AS (SELECT vec_id AS query_id, qv AS qqv, nsq AS qnsq FROM en
         WHERE vec_id < 10),
       probes AS (SELECT query_id, qqv, qnsq, cid AS cell FROM (
         SELECT q.query_id, q.qqv, q.qnsq, c.cid,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY q.qnsq + ${dotL("c.cqv", "c.cqv")}
               - 2*${dotL("q.qqv", "c.cqv")}, c.cid) AS rn
         FROM q, c2 c) WHERE rn <= 2),
       scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         CAST(${dotL("p.qqv", "a.qv")} AS DOUBLE) /
           (sqrt(CAST(p.qnsq AS DOUBLE)) * sqrt(CAST(a.nsq AS DOUBLE)))
           AS cosine
         FROM probes p JOIN assigned a ON p.cell = a.cell
         WHERE a.vec_id != p.query_id)
       SELECT query_id, neighbor_id, cosine, rank FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
       WHERE rank <= 3 ORDER BY query_id, rank"""
  }

  /** Shared oracle for q127/q130: the classifier chain — identical
    * output by count-additivity of merged training slices. */
  private val classifierSql: String =
    s"""WITH v AS (
           SELECT doc_id, 'orig' AS variant, text FROM documents
           UNION ALL
           SELECT doc_id, 'rev' AS variant,
             array_to_string(list_transform(string_split(text, ' '),
               w -> reverse(w)), ' ') AS text
           FROM documents),
         w1 AS (SELECT doc_id, variant, '_' || word || '_' AS padded
           FROM (SELECT doc_id, variant,
               unnest(string_split(text, ' ')) AS word FROM v)
           WHERE word <> ''),
         fb AS (SELECT doc_id, variant,
             ${TextKit.ducksql.md5Long("substr(padded, i, 2)")} % 4096
               AS bucket
           FROM (SELECT doc_id, variant, padded,
               unnest(generate_series(1, length(padded) - 1)) AS i
             FROM w1)),
         model AS (SELECT bucket,
             CAST(((sum(CASE WHEN variant = 'orig' THEN 1 ELSE 0 END) + 1)
               * 1000000) // (count(*) + 2) AS BIGINT) AS w_ppm
           FROM fb WHERE doc_id % 2 = 0 GROUP BY bucket),
         sc AS (SELECT f.doc_id, f.variant,
             CAST(count(*) AS BIGINT) AS n_feats,
             sum(coalesce(m.w_ppm, 500000)) AS w_sum
           FROM fb f LEFT JOIN model m ON f.bucket = m.bucket
           GROUP BY f.doc_id, f.variant)
         SELECT k.doc_id, k.variant,
           coalesce(s.n_feats, 0) AS n_feats,
           CAST(coalesce(s.w_sum // s.n_feats, 500000) AS BIGINT)
             AS score_ppm,
           coalesce(s.w_sum // s.n_feats, 500000) >= 500000 AS is_fluent
         FROM (SELECT DISTINCT doc_id, variant FROM v) k
           LEFT JOIN sc s ON k.doc_id = s.doc_id AND k.variant = s.variant
         ORDER BY k.doc_id, k.variant"""

  /** Shared oracle for q134/q135: the merged-halves registers equal the
    * straight registers (max is associative/commutative), so one SQL
    * checks both — a hash match on q135 IS the merge==rebuild proof. */
  private val hllSql =
    s"""WITH regs AS (${Sketches.ducksql.registers(
          "events", "event_type", "user_id")})
       SELECT grp AS event_type, n_present, zeros, denom, raw_est
       FROM (${Sketches.ducksql.estimate("regs")})
       ORDER BY event_type"""

  /** q133: unrolled fixed-point PageRank iterations + recursive-CTE
    * components over the shared verified-pairs chain. */
  /** Shared DuckDB chain for the unigram tokenizer family: word table,
    * lexicon (HAVING mirrors the minCount-or-single-char keep), folded
    * piece costs, and the 12-round DP unrolled as MATERIALIZED CTEs
    * (each round references the previous four — inlining would compound
    * exponentially, exactly the k-core hazard). */
  private val unigramChain: String = {
    val big = graft.ops.Unigram.Big
    val clamp = graft.ops.Unigram.FreqClamp
    val maxW = graft.ops.Unigram.MaxWordLen
    val maxP = graft.ops.Unigram.MaxPieceLen
    val rounds = (1 to maxW).map { k =>
      val branches = (math.max(0, k - maxP) until k).map { j =>
        s"""SELECT d.word, d.cost + l.pcost AS c
           FROM dp$j d JOIN lex2 l
             ON l.piece = substr(d.word, ${j + 1}, ${k - j})
           WHERE length(d.word) >= $k"""
      }.mkString(" UNION ALL ")
      s"""dp$k AS MATERIALIZED (SELECT word, min(c) AS cost
         FROM ($branches) GROUP BY word)"""
    }.mkString(",\n       ")
    val finals = (1 to maxW).map(k =>
      s"SELECT word, cost FROM dp$k WHERE length(word) = $k")
      .mkString(" UNION ALL ")
    s"""w AS MATERIALIZED (SELECT word, count(*) AS wf FROM
         (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE word <> '' GROUP BY word),
       lex AS MATERIALIZED (SELECT piece, sum(wf) AS freq FROM
         (SELECT wf, unnest(flatten(list_transform(
            generate_series(1, length(word)), s ->
              list_transform(generate_series(1,
                  least($maxP, length(word) - s + 1)), l ->
                substr(word, CAST(s AS INT), CAST(l AS INT)))))) AS piece
          FROM w)
         GROUP BY piece HAVING sum(wf) >= 2 OR length(piece) = 1),
       lex2 AS MATERIALIZED (SELECT piece,
         $big - least(freq, $clamp) AS pcost FROM lex),
       dp0 AS MATERIALIZED (SELECT word, 0::BIGINT AS cost FROM w),
       $rounds,
       fin AS MATERIALIZED (SELECT word,
           CAST((cost + ${big - 1}) // $big AS BIGINT) AS n_pieces,
           CAST(((cost + ${big - 1}) // $big) * $big - cost AS BIGINT)
             AS piece_freq_sum
         FROM ($finals))"""
  }

  /** Greedy longest-match rounds on top of [[unigramChain]]'s shared
    * lexicon (q244/q245): per round the active words explode their
    * <= MaxPieceLen candidate substrings at the cursor, equi-join the
    * lexicon, and keep the LONGEST match (row_number by length DESC —
    * equal lengths are the same piece string, so the order is total);
    * finished words pass through. 12 rounds cover MaxWordLen. */
  private val wordpieceChain: String = {
    val maxW = graft.ops.Unigram.MaxWordLen
    val maxP = graft.ops.Unigram.MaxPieceLen
    val rounds = (1 to maxW).map { r =>
      s"""gs$r AS MATERIALIZED (
         SELECT word, wf, pos + l AS pos, np + 1 AS np,
           fs + CAST(freq AS BIGINT) AS fs
         FROM (
           SELECT c.word, c.wf, c.pos, c.np, c.fs, c.l, x.freq,
             row_number() OVER (PARTITION BY c.word
               ORDER BY c.l DESC) AS rr
           FROM (
             SELECT word, wf, pos, np, fs, l,
               substr(word, CAST(pos + 1 AS INT), CAST(l AS INT)) AS piece
             FROM (SELECT *, unnest(generate_series(1,
                 least($maxP, length(word) - pos))) AS l
               FROM gs${r - 1} WHERE pos < length(word))) c
           JOIN lex x ON c.piece = x.piece)
         WHERE rr = 1
         UNION ALL
         SELECT word, wf, pos, np, fs FROM gs${r - 1}
         WHERE pos >= length(word))"""
    }.mkString(",\n       ")
    s"""$unigramChain,
       gs0 AS MATERIALIZED (SELECT word, wf, 0 AS pos, 0::BIGINT AS np,
         0::BIGINT AS fs FROM w),
       $rounds,
       gfin AS MATERIALIZED (SELECT word, CAST(wf AS BIGINT) AS wf,
         np AS n_pieces, fs AS piece_freq_sum FROM gs$maxW)"""
  }

  /** 2-core peeling unrolled to a fixed 12 rounds (peeling is monotone
    * and idempotent at fixpoint, so any depth <= 12 lands on the same
    * edge set the Spark side converges to; deeper graphs would
    * hash-mismatch loudly, never silently). */
  private val kcoreSql: String = {
    // AS MATERIALIZED: each round references the previous one three
    // times — inlined, the 12-round unroll would expand 3^12 scans of
    // the base chain (observed as a file-handle explosion in DuckDB)
    val peels = (1 to 12).map { i =>
      s"""d$i AS MATERIALIZED (SELECT src FROM e${i - 1} GROUP BY src
           HAVING count(*) >= 2),
         e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
           JOIN d$i s ON e.src = s.src
           JOIN d$i t ON e.dst = t.src)"""
    }.mkString(",\n       ")
    s"""WITH ${MINHASH_CHAIN("documents")},
       e0 AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         UNION SELECT doc_b, doc_a FROM pairs),
       $peels
       SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS degree
       FROM e12 GROUP BY src ORDER BY doc_id"""
  }

  private val pagerankSql: String = {
    val iterCtes = (1 to 3).map { i =>
      s"""r$i AS (SELECT n.id,
           CAST(150000000 + 85 * coalesce(s.c, 0) // 100 AS BIGINT) AS r
         FROM n LEFT JOIN (SELECT e.b AS id, sum(r${i - 1}.r // n2.d) AS c
           FROM e JOIN r${i - 1} ON e.a = r${i - 1}.id
           JOIN n n2 ON e.a = n2.id
           GROUP BY e.b) s ON n.id = s.id)"""
    }.mkString(",\n       ")
    s"""WITH RECURSIVE ${MINHASH_CHAIN("documents")},
       e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         UNION ALL SELECT doc_b, doc_a FROM pairs),
       n AS (SELECT a AS id, count(*) AS d FROM e GROUP BY a),
       r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS r FROM n),
       $iterCtes,
       rr AS (SELECT a, b FROM e
         UNION SELECT rr.a, e.b FROM rr JOIN e ON rr.b = e.a),
       comp AS (SELECT a AS doc_id, least(a, min(b)) AS component_id
         FROM rr GROUP BY a),
       j AS (SELECT comp.doc_id, comp.component_id, r3.r AS pr
         FROM comp JOIN r3 ON comp.doc_id = r3.id),
       best AS (SELECT component_id, max(pr) AS best_pr
         FROM j GROUP BY component_id),
       canon AS (SELECT j.component_id, min(j.doc_id) AS canon_id
         FROM j JOIN best ON j.component_id = best.component_id
           AND j.pr = best.best_pr GROUP BY j.component_id)
       SELECT j.doc_id, j.component_id, j.pr,
         j.doc_id = canon.canon_id AS is_canonical
       FROM j JOIN canon ON j.component_id = canon.component_id
       ORDER BY doc_id"""
  }

  /** q213: the unrolled 3-round LPA mirror — per round, neighbor-label
    * frequencies then the (cnt DESC, label ASC) argmax, exactly the
    * `max(struct(cnt, -label))` the Spark side computes. */
  private val labelPropSql: String = {
    val rounds = (1 to 3).map { i =>
      s"""f$i AS (SELECT e.src, l${i - 1}.label, count(*) AS cnt
           FROM e JOIN l${i - 1} ON e.dst = l${i - 1}.node
           GROUP BY e.src, l${i - 1}.label),
         l$i AS (SELECT src AS node, label FROM f$i
           QUALIFY row_number() OVER (PARTITION BY src
             ORDER BY cnt DESC, label ASC) = 1)"""
    }.mkString(",\n       ")
    s"""WITH ${MINHASH_CHAIN("documents")},
       e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         UNION ALL SELECT doc_b, doc_a FROM pairs),
       l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       $rounds
       SELECT node AS doc_id, label AS community FROM l3 ORDER BY doc_id"""
  }

  /** q142/q143: histogram quantile sketch over per-language document
    * lengths. The merge variant (q143) shares the oracle — merge-equals-
    * rebuild is the claim under test, exactly the hllSql pattern. */
  private val histSql =
    s"""WITH regs AS (${Sketches.duckhist.registers(
          "documents", "lang", "n_chars", 16L)})
       SELECT grp AS lang, total, p25, p50, p75, p90, p99
       FROM (${Sketches.duckhist.quantiles("regs", 16L)})
       ORDER BY lang"""

  /** q138: Gopher rules — integer metrics + per-rule flags, mirroring
    * TextAnalysis.gopherRules (minWords=20, maxWords=100000). */
  private val gopherSql =
    s"""WITH m AS (SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS wchars,
           CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS alpha_words,
           CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in'))) AS BIGINT) AS stop_hits,
           CAST(len(regexp_extract_all(text, '#')) +
             len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_symbols,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]'))) AS BIGINT) AS bullet_lines,
           CAST(len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.\\s*$$'))) AS BIGINT) AS ellipsis_lines
         FROM (SELECT doc_id, text, string_split(text, ' ') AS toks,
             string_split(text, chr(10)) AS lines FROM documents))
       SELECT doc_id, n_words, (wchars * 10) // n_words AS mean_wlen_x10,
         alpha_words, stop_hits, n_symbols, n_lines, bullet_lines,
         ellipsis_lines,
         (n_words >= 20 AND n_words <= 100000) AS r_words,
         ((wchars * 10) // n_words >= 30 AND (wchars * 10) // n_words <= 100) AS r_wlen,
         (n_symbols * 10 <= n_words) AS r_symbol,
         (bullet_lines * 100 <= n_lines * 90) AS r_bullet,
         (ellipsis_lines * 100 <= n_lines * 30) AS r_ellipsis,
         (alpha_words * 100 >= n_words * 80) AS r_alpha,
         (stop_hits >= 2) AS r_stop,
         ((n_words >= 20 AND n_words <= 100000)
           AND ((wchars * 10) // n_words >= 30 AND (wchars * 10) // n_words <= 100)
           AND (n_symbols * 10 <= n_words)
           AND (bullet_lines * 100 <= n_lines * 90)
           AND (ellipsis_lines * 100 <= n_lines * 30)
           AND (alpha_words * 100 >= n_words * 80)
           AND (stop_hits >= 2)) AS pass
       FROM m ORDER BY doc_id"""

  /** q139: interpolated Kneser-Ney bigram score, D = 3/4 in quarter-count
    * units — mirrors TextAnalysis.knBigramScore's integer ppm chain. */
  private val knSql =
    s"""WITH bgx AS (SELECT doc_id,
           unnest(list_transform(generate_series(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1])) AS bg
         FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
       bgc AS (SELECT doc_id, bg, count(*) AS bf_doc FROM bgx GROUP BY 1, 2),
       corpus AS (SELECT bg, CAST(sum(bf_doc) AS BIGINT) AS cbg,
           string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
         FROM bgc GROUP BY bg),
       pre AS (SELECT w1, CAST(sum(cbg) AS BIGINT) AS cpre,
           count(*) AS n1pre FROM corpus GROUP BY w1),
       suf AS (SELECT w2, count(*) AS n1suf FROM corpus GROUP BY w2),
       types AS (SELECT count(*) AS ntypes FROM corpus),
       pkn AS (SELECT bg,
           (greatest(4 * cbg - 3, 0) * 1000000) // (4 * cpre)
             + (((3 * n1pre * 1000000) // (4 * cpre))
                * ((n1suf * 1000000) // ntypes)) // 1000000 AS pkn_ppm
         FROM corpus JOIN pre USING (w1) JOIN suf USING (w2)
           CROSS JOIN types),
       perdoc AS (SELECT doc_id,
           CAST(sum(bf_doc * pkn_ppm) AS BIGINT) AS mass,
           CAST(sum(bf_doc) AS BIGINT) AS nbg
         FROM bgc JOIN pkn USING (bg) GROUP BY doc_id)
       SELECT d.doc_id, coalesce(nbg, 0) AS n_bigrams,
         coalesce(mass // nbg, 0) AS kn_ppm
       FROM documents d LEFT JOIN perdoc USING (doc_id) ORDER BY doc_id"""

  /** Shared CTE prefix for the quantized-embedding rerank oracles:
    * eq/en = per-vector quantized array + integer norm. */
  private val EQ_EN =
    s"""eq AS (SELECT vec_id, list_transform(generate_series(1, 64),
           i -> ${TextKit.ducksql.quant("embedding[i]")}) AS qv
         FROM embeddings),
       en AS (SELECT vec_id, qv,
           CAST(list_sum(list_transform(generate_series(1, 64),
             i -> qv[i] * qv[i])) AS BIGINT) AS nsq FROM eq)"""

  /** Shortlist-then-exact-rerank tail shared by q140/q141: `sd` must
    * provide (query_id, neighbor_id, s_dot); `q` provides qqv/qnsq. */
  private def rerankTail(shortlist: Int, k: Int) =
    s"""sl AS (SELECT query_id, neighbor_id FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY s_dot DESC, neighbor_id) AS rr FROM sd)
         WHERE rr <= $shortlist),
       re AS (SELECT s.query_id, s.neighbor_id,
           CAST(list_sum(list_transform(generate_series(1, 64),
             i -> q.qqv[i] * c.qv[i])) AS DOUBLE)
             / (sqrt(CAST(q.qnsq AS DOUBLE)) * sqrt(CAST(c.nsq AS DOUBLE)))
             AS cosine
         FROM sl s JOIN q ON s.query_id = q.query_id
           JOIN en c ON s.neighbor_id = c.vec_id)
       SELECT query_id, neighbor_id, cosine, rank FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY cosine DESC, neighbor_id) AS rank FROM re)
       WHERE rank <= $k ORDER BY query_id, rank"""

  /** q235: binary sign quantization — 1 bit/dim in two 32-bit halves,
    * Hamming shortlist of 32 (negated into rerankTail's DESC `s_dot`
    * slot: -hamming DESC == hamming ASC, same id tie-break as
    * TopKAggLongAsc), exact rerank to top 5. */
  private val binarySql = {
    def half(off: Int) =
      s"""list_sum(list_transform(generate_series(1, 32),
         i -> CASE WHEN qv[i + $off] > 0
           THEN (1::BIGINT << (i - 1)) ELSE 0 END))"""
    s"""WITH $EQ_EN,
       hb AS (SELECT vec_id, qv, nsq,
           CAST(${half(0)} AS BIGINT) AS h_lo,
           CAST(${half(32)} AS BIGINT) AS h_hi
         FROM en),
       q AS (SELECT vec_id AS query_id, qv AS qqv, nsq AS qnsq,
           h_lo AS q_lo, h_hi AS q_hi
         FROM hb WHERE vec_id < 10),
       sd AS (SELECT query_id, c.vec_id AS neighbor_id,
           -(CAST(bit_count(xor(q.q_lo, c.h_lo)) AS BIGINT)
             + CAST(bit_count(xor(q.q_hi, c.h_hi)) AS BIGINT)) AS s_dot
         FROM q, hb c WHERE c.vec_id != query_id),
       ${rerankTail(32, 5)}"""
  }

  /** q236: hard negatives — label-aware cosine scan, per-anchor top-5
    * other-label cosines + hardest-positive max + semi-hard flag. */
  private val hardNegSql =
    s"""WITH eq AS (SELECT vec_id, label,
           list_transform(generate_series(1, 64),
             i -> ${TextKit.ducksql.quant("embedding[i]")}) AS qv
         FROM embeddings),
       en AS (SELECT vec_id, label, qv,
           CAST(list_sum(list_transform(generate_series(1, 64),
             i -> qv[i] * qv[i])) AS BIGINT) AS nsq FROM eq),
       a AS (SELECT vec_id AS anchor_id, label AS alabel, qv AS aqv,
           nsq AS ansq FROM en WHERE vec_id < 10),
       sc AS (SELECT anchor_id, c.vec_id AS cand_id,
           c.label != a.alabel AS is_neg,
           CAST(list_sum(list_transform(generate_series(1, 64),
             i -> a.aqv[i] * c.qv[i])) AS DOUBLE)
             / (sqrt(CAST(a.ansq AS DOUBLE)) * sqrt(CAST(c.nsq AS DOUBLE)))
             AS cosine
         FROM a, en c WHERE c.vec_id != a.anchor_id),
       pos AS (SELECT anchor_id, max(cosine) AS pos_cosine
         FROM sc WHERE NOT is_neg GROUP BY anchor_id),
       neg AS (SELECT anchor_id, cand_id AS negative_id, cosine,
           CAST(row_number() OVER (PARTITION BY anchor_id
             ORDER BY cosine DESC, cand_id) AS INT) AS rank
         FROM sc WHERE is_neg)
       SELECT neg.anchor_id, negative_id, cosine, rank, pos_cosine,
         CAST(coalesce(cosine < pos_cosine, false) AS INT) AS semi_hard
       FROM neg LEFT JOIN pos ON neg.anchor_id = pos.anchor_id
       WHERE rank <= 5 ORDER BY neg.anchor_id, rank"""

  /** q140: SQ8 — per-dimension corpus min/max, 8-bit affine codes,
    * integer code-dot shortlist of 32, exact rerank to top 5. */
  private val sq8Sql =
    s"""WITH $EQ_EN,
       dims AS (SELECT unnest(generate_series(1, 64)) AS d),
       rng0 AS (SELECT d, min(qv[d]) AS mn, max(qv[d]) AS mx
         FROM en CROSS JOIN dims GROUP BY d),
       rng AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs
         FROM rng0),
       coded AS (SELECT vec_id, qv, nsq, code,
           list_transform(generate_series(1, 64), i ->
             mns[i] + (code[i] * (mxs[i] - mns[i])) // 255) AS recon
         FROM (SELECT vec_id, qv, nsq, mns, mxs,
             list_transform(generate_series(1, 64), i ->
               ((qv[i] - mns[i]) * 255) // greatest(mxs[i] - mns[i], 1)) AS code
           FROM en CROSS JOIN rng)),
       q AS (SELECT vec_id AS query_id, qv AS qqv, nsq AS qnsq
         FROM coded WHERE vec_id < 10),
       sd AS (SELECT query_id, c.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(generate_series(1, 64),
             i -> qqv[i] * c.recon[i])) AS BIGINT) AS s_dot
         FROM q, coded c WHERE c.vec_id != query_id),
       ${rerankTail(32, 5)}"""

  /** q141: Matryoshka — 16-dim prefix integer-dot shortlist of 32,
    * full-dim exact rerank to top 5. */
  private val matryoshkaSql =
    s"""WITH $EQ_EN,
       q AS (SELECT vec_id AS query_id, qv AS qqv, nsq AS qnsq
         FROM en WHERE vec_id < 10),
       sd AS (SELECT query_id, c.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(generate_series(1, 16),
             i -> q.qqv[i] * c.qv[i])) AS BIGINT) AS s_dot
         FROM q, en c WHERE c.vec_id != query_id),
       ${rerankTail(32, 5)}"""

  /** q144/q145: Count-Min user-frequency estimates; the merge variant
    * shares the oracle (merge-equals-rebuild, the hllSql pattern). */
  private val cmsSql =
    s"""WITH regs AS (${Sketches.duckcms.registers("events", "user_id")}),
       probes AS (SELECT DISTINCT user_id AS probe FROM events
         WHERE user_id < 20)
       SELECT probe AS user_id, cms_est
       FROM (${Sketches.duckcms.estimate("regs", "probes")})
       ORDER BY user_id"""

  val oracles: Map[String, String] = Map(
    "q144_cms_sketch" -> cmsSql,
    "q145_cms_merge" -> cmsSql,
    // streaming register maintenance on a finite source == batch sketch
    "q146_stream_hist" -> histSql,
    "q147_drift" ->
      Importance.driftSql("source = 'src0'", "source = 'src1'"),
    "q148_stream_cms" -> cmsSql,
    "q138_gopher_rules" -> gopherSql,
    "q139_kn_bigram" -> knSql,
    "q140_ann_sq8" -> sq8Sql,
    "q235_ann_binary" -> binarySql,
    "q236_hard_negatives" -> hardNegSql,
    "q141_ann_matryoshka" -> matryoshkaSql,
    "q142_hist_sketch" -> histSql,
    "q143_hist_merge" -> histSql,
    "q137_abtt" -> Embeddings.ducksql(),
    "q136_temperature_mix" -> {
      val h = TextKit.ducksql.md5Long("CAST(doc_id AS VARCHAR)")
      val budget = 12000L
      s"""WITH t AS (SELECT doc_id, source,
           CAST(len(string_split(text,' ')) AS BIGINT) AS tok, $h AS hkey
           FROM documents),
         tot AS (SELECT source, CAST(sum(tok) AS BIGINT) AS total,
             CAST(floor(sqrt(CAST(sum(tok) AS DOUBLE))) AS BIGINT) AS q
           FROM t GROUP BY source),
         s AS (SELECT CAST(sum(q) AS BIGINT) AS sumq FROM tot),
         rated AS (SELECT source,
           CASE WHEN target >= total THEN 10000
             ELSE (10000 * target) // total END AS rate
           FROM (SELECT source, total,
             ($budget // sumq) * q + (($budget % sumq) * q) // sumq AS target
             FROM tot, s))
         SELECT t.doc_id, t.source, t.tok
         FROM t JOIN rated ON t.source = rated.source
         WHERE t.hkey % 10000 < rated.rate
         ORDER BY t.source, t.doc_id"""
    },
    "q133_dup_pagerank" -> pagerankSql,
    "q200_kcore" -> kcoreSql,
    "q213_label_prop" -> labelPropSql,
    // maintained index == full rebuild over the head's logical doc set
    "q211_feed_index_maintain" -> feedIndexMaintainSql,
    // the streaming twin applies the same feed commit-by-commit; each
    // step is rebuild-exact, so the head oracle is shared
    "q212_stream_index_maintain" -> feedIndexMaintainSql,
    "q209_hll_intersect" -> {
      def r(t: String) = Sketches.ducksql.registers(
        s"(SELECT * FROM events WHERE event_type = '$t')", "'all'",
        "user_id")
      s"""WITH ra AS (${r("view")}),
         rb AS (${r("purchase")}),
         ru AS (SELECT grp, bucket, max(rho) AS rho FROM
           (SELECT * FROM ra UNION ALL SELECT * FROM rb)
           GROUP BY grp, bucket),
         ea AS (${Sketches.ducksql.estimate("ra")}),
         eb AS (${Sketches.ducksql.estimate("rb")}),
         eu AS (${Sketches.ducksql.estimate("ru")})
         SELECT ea.grp, ea.raw_est AS est_a, eb.raw_est AS est_b,
           eu.raw_est AS est_union,
           ea.raw_est + eb.raw_est - eu.raw_est AS inter_est
         FROM ea JOIN eb ON ea.grp = eb.grp JOIN eu ON ea.grp = eu.grp
         ORDER BY ea.grp"""
    },
    "q208_group_median" ->
      """WITH v AS (SELECT l_returnflag AS g,
           CAST(l_quantity AS BIGINT) AS v FROM lineitem),
         r AS (SELECT g, v,
           row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
           count(*) OVER (PARTITION BY g) AS n FROM v)
         SELECT g AS l_returnflag, v AS median_v,
           CAST(n AS BIGINT) AS n_rows
         FROM r WHERE rn = (n + 1) // 2 ORDER BY l_returnflag""",
    "q204_softdedup" ->
      s"""WITH RECURSIVE ${MINHASH_CHAIN("documents")},
         e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
         r AS (SELECT a, b FROM e
           UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, least(a, min(b)) AS component_id
           FROM r GROUP BY a),
         csizes AS (SELECT component_id, count(*) AS cs FROM comp
           GROUP BY component_id)
         SELECT d.doc_id, CAST(coalesce(cs, 1) AS BIGINT) AS cluster_size,
           CAST(1000 // coalesce(cs, 1) AS BIGINT) AS weight_permille
         FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id
           LEFT JOIN csizes ON comp.component_id = csizes.component_id
         ORDER BY d.doc_id""",
    "q201_unigram_lexicon" ->
      s"""WITH $unigramChain
         SELECT piece, CAST(freq AS BIGINT) AS freq FROM lex
         ORDER BY piece""",
    "q202_unigram_segment" ->
      s"""WITH $unigramChain
         SELECT w.word, CAST(w.wf AS BIGINT) AS wf, fin.n_pieces,
           fin.piece_freq_sum
         FROM w JOIN fin ON w.word = fin.word ORDER BY w.word""",
    "q244_wordpiece_segment" ->
      s"""WITH $wordpieceChain
         SELECT word, wf, n_pieces, piece_freq_sum FROM gfin
         ORDER BY word""",
    "q245_tokenizer_fertility" ->
      s"""WITH $wordpieceChain,
         docw2 AS (SELECT doc_id, word, count(*) AS n FROM
           (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents)
           WHERE word <> '' GROUP BY doc_id, word),
         per AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_words,
             CAST(sum(n * g.n_pieces) AS BIGINT) AS wp_tokens,
             CAST(sum(n * f.n_pieces) AS BIGINT) AS uni_tokens
           FROM docw2 d JOIN gfin g ON d.word = g.word
           JOIN fin f ON d.word = f.word
           GROUP BY doc_id)
         SELECT doc_id, n_words, wp_tokens, uni_tokens,
           (wp_tokens - uni_tokens) * 1000000 // uni_tokens
             AS overhead_ppm
         FROM per ORDER BY doc_id""",
    "q203_unigram_meter" ->
      s"""WITH $unigramChain,
         docw AS (SELECT doc_id, word, count(*) AS n FROM
           (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents)
           WHERE word <> '' GROUP BY doc_id, word)
         SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_words,
           CAST(sum(n * fin.n_pieces) AS BIGINT) AS uni_tokens
         FROM docw JOIN fin ON docw.word = fin.word
         GROUP BY doc_id ORDER BY doc_id""",
    // stored == recomputed: the persisted canonical graph must hash-match
    // the full chain recomputation
    "q195_canonical_persist" -> pagerankSql,
    "q132_importance_resample" -> Importance.ducksql("lang = 'en'", k = 100),
    "q134_hll_sketch" -> hllSql,
    "q135_hll_merge" -> hllSql,
    "q21_dedup_exact" ->
      """SELECT md5(text) AS text_hash,
         min(doc_id) AS canonical_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY canonical_id""",
    "q22_dedup_ngram" ->
      s"""WITH $SHINGLES,
         rare AS (SELECT m FROM (SELECT m, count(*) AS df FROM sh GROUP BY m)
           WHERE df <= 20 AND df >= 2),
         candsh AS (SELECT sh.doc_id, sh.m FROM sh JOIN rare ON sh.m = rare.m),
         cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
           FROM candsh l JOIN candsh r ON l.m = r.m AND l.doc_id < r.doc_id),
         ${JACCARD_TAIL(0.5)}""",
    "q23_dedup_minhash" ->
      s"""WITH ${MINHASH_BODY("documents")}""",
    // transitive closure over the verified near-dup pairs; component id =
    // min doc id reachable (same labeling the Spark min-propagation
    // converges to)
    "q43_dedup_components" ->
      s"""WITH RECURSIVE ${MINHASH_CHAIN("documents")},
         e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
         r AS (SELECT a, b FROM e
           UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a)
         SELECT a AS doc_id, least(a, min(b)) AS component_id
         FROM r GROUP BY a ORDER BY doc_id""",
    "q38_dedup_hot_cluster" ->
      s"""WITH hotdocs AS (SELECT doc_id,
           CASE WHEN doc_id % 10 = 0 THEN '$hotText' ELSE text END AS text
           FROM documents),
         ${MINHASH_BODY("hotdocs")}""",
    "q24_dedup_simhash" ->
      s"""WITH tok AS (SELECT DISTINCT doc_id, $tokH AS h FROM
           (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents)),
         bits AS (SELECT doc_id, b,
           sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
           FROM tok, generate_series(0, 15) AS g(b) GROUP BY doc_id, b)
         SELECT doc_id,
           CAST(sum(CASE WHEN sgn >= 0 THEN (1::BIGINT << b) ELSE 0 END)
             AS BIGINT) AS simhash
         FROM bits GROUP BY doc_id ORDER BY doc_id""",
    "q25_dedup_embedding" ->
      s"""WITH $EMB_NORM
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(${dotQ("a.embedding", "b.embedding")} AS DOUBLE) /
             (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE)))
             AS cosine
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE CAST(${dotQ("a.embedding", "b.embedding")} AS DOUBLE) /
             (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))) >= 0.4
         ORDER BY vec_a, vec_b""",
    "q37_dedup_embedding_blocked" ->
      s"""WITH eb0 AS (SELECT vec_id, embedding,
           ${dotQ("embedding", "embedding")} AS nsq,
           list_sum(list_transform(generate_series(1, 4), d ->
             CASE WHEN embedding[d] >= 0 THEN (1::BIGINT << (d - 1))
               ELSE 0 END)) AS bucket
           FROM embeddings),
         okb AS (SELECT bucket FROM eb0 GROUP BY bucket
           HAVING count(*) <= 4096),
         eb AS (SELECT eb0.* FROM eb0 JOIN okb ON eb0.bucket = okb.bucket)
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(${dotQ("a.embedding", "b.embedding")} AS DOUBLE) /
             (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE)))
             AS cosine
         FROM eb a JOIN eb b
           ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         WHERE CAST(${dotQ("a.embedding", "b.embedding")} AS DOUBLE) /
             (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))) >= 0.4
         ORDER BY vec_a, vec_b""",
    "q26_ann_brute" ->
      s"""WITH $EMB_NORM,
         q AS (SELECT vec_id AS query_id, embedding AS qe, nsq AS qnsq
           FROM e WHERE vec_id < 10),
         scored AS (SELECT query_id, e.vec_id AS neighbor_id,
           CAST(${dotQ("qe", "e.embedding")} AS DOUBLE) /
             (sqrt(CAST(qnsq AS DOUBLE)) * sqrt(CAST(e.nsq AS DOUBLE)))
             AS cosine
           FROM q, e WHERE e.vec_id != query_id)
         SELECT query_id, neighbor_id, cosine, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         WHERE rank <= 5 ORDER BY query_id, rank""",
    "q27_ann_lsh" ->
      s"""WITH eb AS (SELECT vec_id, embedding,
           ${dotQ("embedding", "embedding")} AS nsq,
           list_sum(list_transform(generate_series(1, 6), d ->
             CASE WHEN embedding[d] >= 0 THEN (1::BIGINT << (d - 1))
               ELSE 0 END)) AS bucket
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, embedding AS qe, nsq AS qnsq,
           bucket FROM eb WHERE vec_id < 10),
         scored AS (SELECT query_id, eb.vec_id AS neighbor_id,
           CAST(${dotQ("qe", "eb.embedding")} AS DOUBLE) /
             (sqrt(CAST(qnsq AS DOUBLE)) * sqrt(CAST(eb.nsq AS DOUBLE)))
             AS cosine
           FROM q JOIN eb ON q.bucket = eb.bucket
           WHERE eb.vec_id != q.query_id)
         SELECT query_id, neighbor_id, cosine, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "q36_ann_ivf" -> ivfOracle(1),
    "q50_ann_ivf_sampled" -> ivfOracle(4),
    // the all-queries IVF kNN graph, mutual-edge filter, cosine floor,
    // then q43's reachability min-label recursion
    "q111_semantic_clusters" ->
      s"""WITH RECURSIVE ${kmeansChain(1)},
         q AS (SELECT vec_id AS query_id, qv AS qqv, nsq AS qnsq FROM en),
         probes AS (SELECT query_id, qqv, qnsq, cid AS cell FROM (
           SELECT q.query_id, q.qqv, q.qnsq, c.cid,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY q.qnsq + ${dotL("c.cqv", "c.cqv")}
                 - 2*${dotL("q.qqv", "c.cqv")}, c.cid) AS rn
           FROM q, c2 c) WHERE rn <= 2),
         scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
           CAST(${dotL("p.qqv", "a.qv")} AS DOUBLE) /
             (sqrt(CAST(p.qnsq AS DOUBLE)) * sqrt(CAST(a.nsq AS DOUBLE)))
             AS cosine
           FROM probes p JOIN assigned a ON p.cell = a.cell
           WHERE a.vec_id != p.query_id),
         topk AS (SELECT query_id, neighbor_id, cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
           WHERE rank <= 5),
         edges AS (SELECT query_id AS a, neighbor_id AS b FROM topk
           WHERE cosine >= 0.4),
         mut AS (SELECT e1.a, e1.b FROM edges e1
           JOIN edges e2 ON e1.a = e2.b AND e1.b = e2.a WHERE e1.a < e1.b),
         e AS (SELECT a, b FROM mut UNION SELECT b, a FROM mut),
         r AS (SELECT a, b FROM e
           UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a)
         SELECT a AS doc_id, least(a, min(b)) AS component_id
         FROM r GROUP BY a ORDER BY doc_id""",
    // 4-table sign LSH: table t buckets dims [6t, 6t+6); a pair matching
    // in ANY table is a candidate, deduped before the exact-cosine score
    "q100_ann_lsh_multi" ->
      s"""WITH eb AS (SELECT vec_id, embedding,
           ${dotQ("embedding", "embedding")} AS nsq FROM embeddings),
         b AS (SELECT vec_id, g.t AS t,
             list_sum(list_transform(generate_series(1, 6), d ->
               CASE WHEN embedding[g.t*6 + d] >= 0
                 THEN (1::BIGINT << (d - 1)) ELSE 0 END)) AS bucket
           FROM embeddings, generate_series(0, 3) g(t)),
         qb AS (SELECT vec_id AS query_id, t, bucket FROM b
           WHERE vec_id < 10),
         cand AS (SELECT DISTINCT qb.query_id, b.vec_id FROM b JOIN qb
           ON b.t = qb.t AND b.bucket = qb.bucket
           WHERE b.vec_id != qb.query_id),
         q AS (SELECT vec_id AS query_id, embedding AS qe, nsq AS qnsq
           FROM eb WHERE vec_id < 10),
         scored AS (SELECT c.query_id, eb.vec_id AS neighbor_id,
             CAST(${dotQ("qe", "eb.embedding")} AS DOUBLE) /
               (sqrt(CAST(qnsq AS DOUBLE)) * sqrt(CAST(eb.nsq AS DOUBLE)))
               AS cosine
           FROM cand c JOIN eb ON c.vec_id = eb.vec_id
             JOIN q ON c.query_id = q.query_id)
         SELECT query_id, neighbor_id, cosine, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         WHERE rank <= 3 ORDER BY query_id, rank""",
    // PQ chain + ADC-shortlist-50 exact-cosine re-rank (FAISS refine)
    "q101_ann_pq_rerank" -> pqOracle(0, rerank = 50),
    // IVF-PQ chain + the same re-rank over the probed-cell shortlist
    "q102_ann_ivfpq_rerank" -> ivfPqOracle("TRUE",
      """q AS (SELECT vec_id AS query_id, qv AS qqv, nsq AS qnsq FROM en
           WHERE vec_id < 10)""", rerank = 50),
    // IVF-PQ with the residual codebook Lloyd-refined for 2 iterations
    "q104_ann_ivfpq_trained" -> ivfPqOracle("TRUE",
      """q AS (SELECT vec_id AS query_id, qv AS qqv, nsq AS qnsq FROM en
           WHERE vec_id < 10)""", cbTrainIters = 2),
    // residual-codebook refinement over the 1/2 hash-sample only
    "q116_ann_ivfpq_cbsampled" -> ivfPqOracle("TRUE",
      """q AS (SELECT vec_id AS query_id, qv AS qqv, nsq AS qnsq FROM en
           WHERE vec_id < 10)""", cbTrainIters = 2, cbSampleMod = 2),
    // streamed admission == the batch scored set under the same gate
    // (q95's external-query chain, threshold tail instead of top-k)
    "q106_stream_ivfpq" -> ivfPqOracle(excludeSelf = false,
      corpusPred = "vec_id % 10 != 0", queryCte =
      s"""qf AS (SELECT vec_id,
           list_transform(embedding, x -> ${TextKit.ducksql.quant("x")})
             AS qqv
           FROM embeddings WHERE vec_id % 10 = 0),
         q AS (SELECT vec_id AS query_id, qqv,
           ${dotL("qqv", "qqv")} AS qnsq FROM qf)""",
      admitMaxAdc = Some(125000000000000L)),
    // same MinHash+LSH chain, over the 80%-mutated corpus; the Spark side
    // differs only in WHERE the verify semi join's id set travels
    // (shuffle, not broadcast), which must not change a single pair
    "q60_dedup_dupheavy" ->
      s"""WITH dupdocs AS (SELECT doc_id,
           CASE WHEN doc_id % 5 != 0
             THEN '$hotText' || ' g' || CAST(doc_id % 200 AS VARCHAR)
               || ' v' || CAST(doc_id % 3 AS VARCHAR)
             ELSE text END AS text
           FROM documents),
         ${MINHASH_BODY("dupdocs")}""",
    "q49_minhash_udaf" ->
      s"""WITH $SHINGLES
         SELECT doc_id,
           ${(0 until 8).map(j => s"min(${H(j)}) AS h$j").mkString(", ")}
         FROM sh GROUP BY doc_id ORDER BY doc_id""",
    // cross-corpus: band over ALL docs (a doc's signature depends only on
    // its own shingles), split sides by doc_id % 10, cap CORPUS buckets
    // only (singletons kept - a lone corpus doc can match an incoming
    // doc), candidates = corpus x fresh within a shared (band, key)
    "q48_dedup_incremental" ->
      s"""WITH ${SIG_BANDS("documents")},
         bc AS (SELECT * FROM banded0 WHERE doc_id % 10 != 0),
         bf AS (SELECT * FROM banded0 WHERE doc_id % 10 = 0),
         ok AS (SELECT band, key FROM bc GROUP BY band, key
           HAVING count(*) <= 64),
         bck AS (SELECT bc.* FROM bc JOIN ok
           ON bc.band = ok.band AND bc.key = ok.key),
         cand AS (SELECT DISTINCT bck.doc_id AS doc_a, bf.doc_id AS doc_b
           FROM bck JOIN bf ON bck.band = bf.band AND bck.key = bf.key),
         ${JACCARD_PAIRS(0.6)}
         SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""",
    "q47_dedup_rejects" ->
      s"""WITH d AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN '$hotText' ELSE text END AS text,
           lang, source FROM documents)
         SELECT doc_id, lang, source FROM d
         WHERE doc_id NOT IN (SELECT min(doc_id) FROM d GROUP BY md5(text))
         ORDER BY doc_id""",
    "q61_doc_keywords" ->
      """WITH tf AS (SELECT doc_id, token, count(*) AS tf FROM (
           SELECT doc_id, unnest(string_split(text,' ')) AS token
           FROM documents) GROUP BY doc_id, token),
         df AS (SELECT token, count(*) AS df FROM tf GROUP BY token)
         SELECT doc_id, rank, token, tf, df FROM (
           SELECT tf.doc_id, tf.token, tf.tf, df.df,
             row_number() OVER (PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, df.df ASC, tf.token) AS rank
           FROM tf JOIN df USING (token))
         WHERE rank <= 5 ORDER BY doc_id, rank""",
    // component summary over the q22 (n-gram) verified-pair closure
    "q62_dup_clusters" ->
      s"""WITH RECURSIVE $SHINGLES,
         rare AS (SELECT m FROM (SELECT m, count(*) AS df FROM sh GROUP BY m)
           WHERE df <= 20 AND df >= 2),
         candsh AS (SELECT sh.doc_id, sh.m FROM sh JOIN rare ON sh.m = rare.m),
         cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
           FROM candsh l JOIN candsh r ON l.m = r.m AND l.doc_id < r.doc_id),
         ${JACCARD_PAIRS(0.5)},
         e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
         r AS (SELECT a, b FROM e
           UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, least(a, min(b)) AS component_id
           FROM r GROUP BY a)
         SELECT component_id, count(*) AS n_members FROM comp
         GROUP BY component_id ORDER BY component_id""",
    // nearest-rank selection with integer arithmetic — interpolating
    // percentile functions are NOT cross-engine deterministic
    "q65_length_percentiles" ->
      """WITH ranked AS (SELECT lang, n_chars,
           row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
             AS rn,
           count(*) OVER (PARTITION BY lang) AS n
           FROM documents)
         SELECT lang, p, n_chars AS len_at_p
         FROM ranked, (VALUES (50), (90), (99)) t(p)
         WHERE rn = (p * n + 99) // 100
         ORDER BY lang, p""",
    "q64_components_stars" ->
      """WITH RECURSIVE p AS (SELECT doc_id AS doc_a, doc_id + 1 AS doc_b
           FROM documents WHERE doc_id % 10 != 9),
         e AS (SELECT doc_a AS a, doc_b AS b FROM p
           UNION SELECT doc_b, doc_a FROM p),
         r AS (SELECT a, b FROM e
           UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a)
         SELECT a AS doc_id, least(a, min(b)) AS component_id
         FROM r GROUP BY a ORDER BY doc_id""",
    // same planted mutation; DuckDB regexp_replace needs the 'g' flag for
    // the replace-all semantics Spark applies by default
    "q63_pii_scrub" ->
      s"""WITH piidocs AS (SELECT doc_id,
           CASE WHEN doc_id % 4 = 0
             THEN text || ' contact user' || CAST(doc_id % 50 AS VARCHAR)
               || '@example.com ref 12345678' || CAST(doc_id % 10 AS VARCHAR)
             ELSE text END AS text
           FROM documents),
         scrub AS (SELECT doc_id, text,
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g')
             AS es
           FROM piidocs),
         scrub2 AS (SELECT doc_id, text, es,
           regexp_replace(es, '[0-9]{6,}', '<NUM>', 'g') AS s FROM scrub)
         SELECT doc_id,
           len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(es, '[0-9]{6,}')) AS n_long_numbers,
           length(s) AS n_chars_scrubbed, md5(s) AS scrubbed_hash
         FROM scrub2 ORDER BY doc_id""",
    // full GROUP BY .. HAVING over every bigram occurrence — exactly what
    // the sketch-propose + exact-recount two-pass must reproduce
    "q66_heavy_hitters" ->
      """WITH shq AS (SELECT unnest(list_transform(
           generate_series(1, len(toks)-1),
           i -> toks[i] || ' ' || toks[i+1])) AS s
           FROM (SELECT string_split(text,' ') AS toks FROM documents)),
         tot AS (SELECT count(*) AS n FROM shq),
         cnt AS (SELECT s, count(*) AS cnt FROM shq GROUP BY s)
         SELECT s AS shingle, cnt FROM cnt, tot
         WHERE cnt * 1000 >= n ORDER BY shingle""",
    "q67_line_dedup" ->
      s"""WITH built AS (SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
             THEN text || chr(10) || '$lineFooter'
               || CAST(doc_id % 20 AS VARCHAR)
             ELSE '$lineHeader' || chr(10) || text || chr(10)
               || '$lineFooter' || CAST(doc_id % 20 AS VARCHAR)
           END AS text FROM documents),
         ln0 AS (SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ls)),
             i -> {'pos': i, 'line': ls[i]})) AS u
           FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
             FROM built)),
         ln AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM ln0),
         freq AS (SELECT md5(line) AS lh FROM ln GROUP BY md5(line)
           HAVING count(DISTINCT doc_id) >= 10),
         kept AS (SELECT * FROM ln
           WHERE md5(line) NOT IN (SELECT lh FROM freq)),
         reb AS (SELECT doc_id, count(*) AS n_kept,
           string_agg(line, chr(10) ORDER BY pos) AS rebuilt
           FROM kept GROUP BY doc_id)
         SELECT b.doc_id, coalesce(n_kept, 0) AS n_lines_kept,
           len(string_split(b.text, chr(10))) - coalesce(n_kept, 0)
             AS n_lines_dropped,
           length(coalesce(rebuilt, '')) AS n_chars_kept,
           md5(coalesce(rebuilt, '')) AS rebuilt_hash
         FROM built b LEFT JOIN reb USING (doc_id) ORDER BY doc_id""",
    "q68_contamination" ->
      s"""WITH bench AS (SELECT doc_id AS bench_id, text FROM documents
           WHERE doc_id % 101 = 0),
         corpus AS (SELECT d.doc_id,
           CASE WHEN d.doc_id % 10 = 3 THEN d.text || ' ' || b.text
             ELSE d.text END AS text
           FROM documents d JOIN bench b ON b.bench_id = (d.doc_id % 5) * 101
           WHERE d.doc_id % 101 != 0),
         csh AS (SELECT DISTINCT doc_id, ${TextKit.ducksql.md5Long("s")} AS m
           FROM (${NGRAM5("corpus", "doc_id")})),
         bsh AS (SELECT DISTINCT bench_id, ${TextKit.ducksql.md5Long("s")} AS m
           FROM (${NGRAM5("bench", "bench_id")})),
         bsize AS (SELECT bench_id, count(*) AS bench_ngrams FROM bsh
           GROUP BY bench_id),
         ov AS (SELECT c.doc_id, b.bench_id, count(*) AS overlap
           FROM csh c JOIN bsh b ON c.m = b.m GROUP BY 1, 2)
         SELECT o.doc_id, o.bench_id, o.overlap, s.bench_ngrams,
           CAST(o.overlap AS DOUBLE) / s.bench_ngrams AS contamination
         FROM ov o JOIN bsize s USING (bench_id)
         WHERE CAST(o.overlap AS DOUBLE) / s.bench_ngrams >= 0.5
         ORDER BY doc_id, bench_id""",
    // the complement of q47: kept docs; the Spark side must land on the
    // identical set whatever the bloom's false positives are
    "q69_bloom_rejects" ->
      s"""WITH d AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN '$hotText' ELSE text END AS text,
           lang, source FROM documents)
         SELECT doc_id, lang, source FROM d
         WHERE doc_id IN (SELECT min(doc_id) FROM d GROUP BY md5(text))
         ORDER BY doc_id""",
    "q70_shard_export" -> {
      val h = TextKit.ducksql.md5Long("CAST(doc_id AS VARCHAR)")
      s"""WITH sh2 AS (SELECT $h % 16 AS shard, n_chars,
           $h % ${Dedup.P} AS hq FROM documents)
         SELECT shard, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(hq) AS BIGINT) AS id_checksum
         FROM sh2 GROUP BY shard ORDER BY shard"""
    },
    "q71_repetition" ->
      """WITH tf AS (SELECT doc_id, token, count(*) AS tf FROM (
           SELECT doc_id, unnest(string_split(text,' ')) AS token
           FROM documents) GROUP BY doc_id, token),
         tok AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           max(tf) AS max_token_tf, count(*) AS n_distinct_tokens
           FROM tf GROUP BY doc_id),
         shq AS (SELECT doc_id, unnest(list_transform(
           generate_series(1, len(toks)-1),
           i -> toks[i] || ' ' || toks[i+1])) AS s
           FROM (SELECT doc_id, string_split(text,' ') AS toks
             FROM documents)),
         bg AS (SELECT doc_id, count(*) AS n_bigrams,
           count(DISTINCT s) AS n_distinct_bigrams FROM shq GROUP BY doc_id)
         SELECT t.doc_id, n_tokens, max_token_tf, n_distinct_tokens,
           coalesce(n_bigrams, 0) AS n_bigrams,
           coalesce(n_distinct_bigrams, 0) AS n_distinct_bigrams,
           CAST(max_token_tf AS DOUBLE) / n_tokens AS top_token_ratio,
           CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0.0
             ELSE CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / n_bigrams
           END AS dup_bigram_ratio
         FROM tok t LEFT JOIN bg USING (doc_id) ORDER BY doc_id""",
    "q75_chunking" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks,
           len(string_split(text,' ')) AS n FROM documents),
         c AS (SELECT doc_id, toks, n,
           unnest(generate_series(0, greatest(1, (n - 16 + 47) // 48) - 1))
             AS chunk_idx FROM t),
         ch AS (SELECT doc_id, chunk_idx,
           toks[chunk_idx*48 + 1 : least(chunk_idx*48 + 64, n)] AS chunk
           FROM c)
         SELECT doc_id, chunk_idx, len(chunk) AS chunk_n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_hash
         FROM ch ORDER BY doc_id, chunk_idx""",
    "q76_unigram_score" ->
      """WITH tf AS (SELECT doc_id, token, count(*) AS tf_doc FROM (
           SELECT doc_id, unnest(string_split(text,' ')) AS token
           FROM documents) GROUP BY doc_id, token),
         corpus AS (SELECT token, CAST(sum(tf_doc) AS BIGINT) AS tf
           FROM tf GROUP BY token)
         SELECT doc_id, CAST(sum(tf_doc) AS BIGINT) AS n_tokens,
           CAST(sum(tf_doc * tf) AS BIGINT) AS freq_mass,
           CAST(CAST(sum(tf_doc * tf) AS BIGINT) AS DOUBLE) /
             CAST(sum(tf_doc) AS BIGINT) AS mean_token_tf
         FROM tf JOIN corpus USING (token)
         GROUP BY doc_id ORDER BY doc_id""",
    // q111's cluster labels + a per-component hash-rank cap of 2
    "q114_cluster_cap" -> {
      val h = TextKit.ducksql.md5Long("CAST(doc_id AS VARCHAR)")
      s"""WITH RECURSIVE ${kmeansChain(1)},
         q AS (SELECT vec_id AS query_id, qv AS qqv, nsq AS qnsq FROM en),
         probes AS (SELECT query_id, qqv, qnsq, cid AS cell FROM (
           SELECT q.query_id, q.qqv, q.qnsq, c.cid,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY q.qnsq + ${dotL("c.cqv", "c.cqv")}
                 - 2*${dotL("q.qqv", "c.cqv")}, c.cid) AS rn
           FROM q, c2 c) WHERE rn <= 2),
         scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
           CAST(${dotL("p.qqv", "a.qv")} AS DOUBLE) /
             (sqrt(CAST(p.qnsq AS DOUBLE)) * sqrt(CAST(a.nsq AS DOUBLE)))
             AS cosine
           FROM probes p JOIN assigned a ON p.cell = a.cell
           WHERE a.vec_id != p.query_id),
         topk AS (SELECT query_id, neighbor_id, cosine FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
           WHERE rank <= 5),
         edges AS (SELECT query_id AS a, neighbor_id AS b FROM topk
           WHERE cosine >= 0.4),
         mut AS (SELECT e1.a, e1.b FROM edges e1
           JOIN edges e2 ON e1.a = e2.b AND e1.b = e2.a WHERE e1.a < e1.b),
         e AS (SELECT a, b FROM mut UNION SELECT b, a FROM mut),
         r AS (SELECT a, b FROM e
           UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
         lab AS (SELECT a AS doc_id, least(a, min(b)) AS component_id
           FROM r GROUP BY a)
         SELECT component_id, doc_id, rank FROM (
           SELECT component_id, doc_id, row_number() OVER (
             PARTITION BY component_id ORDER BY $h, doc_id) AS rank
           FROM lab)
         WHERE rank <= 2 ORDER BY component_id, rank"""
    },
    // the report replayed: totals, dup groups via body-hash, percentiles
    // from the cumulative token-length histogram (nearest rank)
    "q112_corpus_report" ->
      """WITH base AS (SELECT doc_id, lang, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           md5(text) AS h FROM documents),
         t AS (SELECT count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT source) AS n_sources FROM base),
         d AS (SELECT
           CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_groups,
           CAST(sum(c - 1) AS BIGINT) AS dup_docs
           FROM (SELECT count(*) AS c FROM base GROUP BY h)),
         cum AS (SELECT n_tok, sum(cnt) OVER (ORDER BY n_tok) AS cum
           FROM (SELECT n_tok, count(*) AS cnt FROM base GROUP BY n_tok)),
         p AS (SELECT
           CAST(min(CASE WHEN cum >= (50 * (SELECT n_docs FROM t) + 99)
             // 100 THEN n_tok END) AS BIGINT) AS p50_tokens,
           CAST(min(CASE WHEN cum >= (90 * (SELECT n_docs FROM t) + 99)
             // 100 THEN n_tok END) AS BIGINT) AS p90_tokens FROM cum)
         SELECT * FROM t, d, p""",
    // split assignment replayed from the same md5 bucket arithmetic
    "q110_split" -> {
      val h = TextKit.ducksql.md5Long("CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, source, $h % 1000 AS split_bucket,
           CASE WHEN $h % 1000 < 50 THEN 'val'
             WHEN $h % 1000 < 100 THEN 'test'
             ELSE 'train' END AS split
         FROM documents ORDER BY doc_id"""
    },
    // bigram fluency: row-local bigram lists, corpus bigram/prefix
    // counts, exact integer ppm conditional probabilities
    "q105_bigram_score" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents),
         bg AS (SELECT doc_id, unnest(list_transform(
             generate_series(1, CAST(len(t) - 1 AS INT)),
             i -> t[i] || ' ' || t[i + 1])) AS bg
           FROM toks WHERE len(t) >= 2),
         bgc AS (SELECT doc_id, bg, count(*) AS bf_doc FROM bg
           GROUP BY doc_id, bg),
         corpus AS (SELECT bg, CAST(sum(bf_doc) AS BIGINT) AS cbg
           FROM bgc GROUP BY bg),
         pre AS (SELECT split_part(bg, ' ', 1) AS w1,
             CAST(sum(cbg) AS BIGINT) AS cpre
           FROM corpus GROUP BY 1),
         scored AS (SELECT bgc.doc_id,
             CAST(sum(bgc.bf_doc * ((corpus.cbg * 1000000) // pre.cpre))
               AS BIGINT) AS mass,
             CAST(sum(bgc.bf_doc) AS BIGINT) AS nbg
           FROM bgc JOIN corpus USING (bg)
             JOIN pre ON split_part(bgc.bg, ' ', 1) = pre.w1
           GROUP BY bgc.doc_id)
         SELECT d.doc_id, coalesce(nbg, 0) AS n_bigrams,
           coalesce(CAST(mass // nbg AS BIGINT), 0) AS fluency_ppm
         FROM documents d LEFT JOIN scored ON d.doc_id = scored.doc_id
         ORDER BY d.doc_id""",
    // CCNet buckets: the q105 fluency chain, then nearest-rank tercile
    // boundaries from the cum histogram (the explicit twin of Spark's
    // percentile_disc) and the tie-goes-lower CASE assignment
    "q120_fluency_buckets" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents),
         bg AS (SELECT doc_id, unnest(list_transform(
             generate_series(1, CAST(len(t) - 1 AS INT)),
             i -> t[i] || ' ' || t[i + 1])) AS bg
           FROM toks WHERE len(t) >= 2),
         bgc AS (SELECT doc_id, bg, count(*) AS bf_doc FROM bg
           GROUP BY doc_id, bg),
         corpus AS (SELECT bg, CAST(sum(bf_doc) AS BIGINT) AS cbg
           FROM bgc GROUP BY bg),
         pre AS (SELECT split_part(bg, ' ', 1) AS w1,
             CAST(sum(cbg) AS BIGINT) AS cpre
           FROM corpus GROUP BY 1),
         scored AS (SELECT bgc.doc_id,
             CAST(sum(bgc.bf_doc * ((corpus.cbg * 1000000) // pre.cpre))
               AS BIGINT) AS mass,
             CAST(sum(bgc.bf_doc) AS BIGINT) AS nbg
           FROM bgc JOIN corpus USING (bg)
             JOIN pre ON split_part(bgc.bg, ' ', 1) = pre.w1
           GROUP BY bgc.doc_id),
         f AS (SELECT d.doc_id,
             coalesce(CAST(mass // nbg AS BIGINT), 0) AS fluency_ppm
           FROM documents d LEFT JOIN scored ON d.doc_id = scored.doc_id),
         nn AS (SELECT count(*) AS n FROM f),
         cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS c FROM
           (SELECT fluency_ppm AS v, count(*) AS cnt FROM f GROUP BY 1)),
         b AS (SELECT
           CAST(min(CASE WHEN c >= (1 * (SELECT n FROM nn) + 2) // 3
             THEN v END) AS BIGINT) AS b1,
           CAST(min(CASE WHEN c >= (2 * (SELECT n FROM nn) + 2) // 3
             THEN v END) AS BIGINT) AS b2
           FROM cum)
         SELECT f.doc_id, f.fluency_ppm,
           CASE WHEN f.fluency_ppm <= b.b1 THEN 0
                WHEN f.fluency_ppm <= b.b2 THEN 1 ELSE 2 END AS bucket
         FROM f, b ORDER BY f.doc_id""",
    // the cap oracle is the row_number window twin of the bounded
    // aggregator: same (hash, id) order, same keep set
    "q122_source_cap" -> {
      val h = TextKit.ducksql.md5Long("CAST(doc_id AS VARCHAR)")
      s"""SELECT source, doc_id, CAST(rn AS INT) AS rank FROM (
           SELECT source, doc_id, row_number() OVER (
             PARTITION BY source ORDER BY $h, doc_id) AS rn
           FROM documents) WHERE rn <= 10 ORDER BY source, rank"""
    },
    // the recipe's oracle replays all five stages: normalize, the q120
    // fluency chain over the NORMALIZED corpus (tail drop = ppm > b1),
    // the per-source hash-rank cap as a window twin, min_by dedup, and
    // the md5-bucket split rollup
    "q121_pretrain_recipe" -> {
      val h = TextKit.ducksql.md5Long("CAST(doc_id AS VARCHAR)")
      s"""WITH nrm AS (SELECT doc_id, source,
           trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS text
           FROM documents),
         toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM nrm),
         bg AS (SELECT doc_id, unnest(list_transform(
             generate_series(1, CAST(len(t) - 1 AS INT)),
             i -> t[i] || ' ' || t[i + 1])) AS bg
           FROM toks WHERE len(t) >= 2),
         bgc AS (SELECT doc_id, bg, count(*) AS bf_doc FROM bg
           GROUP BY doc_id, bg),
         corpus AS (SELECT bg, CAST(sum(bf_doc) AS BIGINT) AS cbg
           FROM bgc GROUP BY bg),
         pre AS (SELECT split_part(bg, ' ', 1) AS w1,
             CAST(sum(cbg) AS BIGINT) AS cpre
           FROM corpus GROUP BY 1),
         scored AS (SELECT bgc.doc_id,
             CAST(sum(bgc.bf_doc * ((corpus.cbg * 1000000) // pre.cpre))
               AS BIGINT) AS mass,
             CAST(sum(bgc.bf_doc) AS BIGINT) AS nbg
           FROM bgc JOIN corpus USING (bg)
             JOIN pre ON split_part(bgc.bg, ' ', 1) = pre.w1
           GROUP BY bgc.doc_id),
         f AS (SELECT n.doc_id,
             coalesce(CAST(mass // nbg AS BIGINT), 0) AS fluency_ppm
           FROM nrm n LEFT JOIN scored ON n.doc_id = scored.doc_id),
         nn AS (SELECT count(*) AS n FROM f),
         cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS c FROM
           (SELECT fluency_ppm AS v, count(*) AS cnt FROM f GROUP BY 1)),
         bnd AS (SELECT
           CAST(min(CASE WHEN c >= (1 * (SELECT n FROM nn) + 2) // 3
             THEN v END) AS BIGINT) AS b1 FROM cum),
         g AS (SELECT nrm.doc_id, nrm.source, nrm.text
           FROM nrm JOIN f USING (doc_id), bnd
           WHERE f.fluency_ppm > bnd.b1),
         ranked AS (SELECT doc_id, source, text, row_number() OVER (
             PARTITION BY source ORDER BY $h, doc_id) AS rn FROM g),
         capped AS (SELECT doc_id, source, text FROM ranked
           WHERE rn <= 15),
         canon AS (SELECT min(doc_id) AS doc_id,
             min_by(source, doc_id) AS source,
             min_by(text, doc_id) AS text
           FROM capped GROUP BY md5(text)),
         spl AS (SELECT source,
             CASE WHEN $h % 1000 < 50 THEN 'val'
               WHEN $h % 1000 < 100 THEN 'test'
               ELSE 'train' END AS split,
             len(string_split(text, ' ')) AS n_tok FROM canon)
         SELECT split, source, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
         FROM spl GROUP BY 1, 2 ORDER BY 1, 2""" },
    // the oracle never parses HTML: it recomputes every extracted field
    // from the SOURCE text plus the wrapper's fixed boilerplate lengths
    // ('home about' = 10 visible chars, 'copyright 2024' = 14), so only
    // a genuinely correct markup strip can match
    "q107_html_extract" ->
      """SELECT doc_id, text AS main_text,
           'doc ' || doc_id AS title,
           CAST(2 AS BIGINT) AS n_links,
           CAST(len('doc ' || doc_id) + 10 + len(text) + 14 AS BIGINT)
             AS stripped_len,
           CAST(1000 - (CAST(len(text) AS BIGINT) * 1000 //
             (len('doc ' || doc_id) + 10 + len(text) + 14)) AS BIGINT)
             AS boilerplate_permille
         FROM documents ORDER BY doc_id""",
    // crawl curation: q107's extraction identity + chrome gate, q105's
    // bigram chain over the GATED subcorpus, q73's dedup + shard tail
    "q108_crawl_curation" -> {
      val h = TextKit.ducksql.md5Long("CAST(doc_id AS VARCHAR)")
      s"""WITH ex AS (SELECT doc_id, text,
           1000 - (CAST(len(text) AS BIGINT) * 1000 //
             (len('doc ' || doc_id) + 10 + len(text) + 14)) AS boiler
           FROM documents),
         gated AS (SELECT doc_id, text FROM ex WHERE boiler <= 150),
         toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM gated),
         bg AS (SELECT doc_id, unnest(list_transform(
             generate_series(1, CAST(len(t) - 1 AS INT)),
             i -> t[i] || ' ' || t[i + 1])) AS bg
           FROM toks WHERE len(t) >= 2),
         bgc AS (SELECT doc_id, bg, count(*) AS bf FROM bg
           GROUP BY doc_id, bg),
         corpus AS (SELECT bg, CAST(sum(bf) AS BIGINT) AS cbg
           FROM bgc GROUP BY bg),
         pre AS (SELECT split_part(bg, ' ', 1) AS w1,
             CAST(sum(cbg) AS BIGINT) AS cpre
           FROM corpus GROUP BY 1),
         scored AS (SELECT bgc.doc_id,
             CAST(sum(bgc.bf * ((corpus.cbg * 1000000) // pre.cpre))
               AS BIGINT) AS mass,
             CAST(sum(bgc.bf) AS BIGINT) AS nbg
           FROM bgc JOIN corpus USING (bg)
             JOIN pre ON split_part(bgc.bg, ' ', 1) = pre.w1
           GROUP BY bgc.doc_id),
         fluent AS (SELECT doc_id FROM scored WHERE mass // nbg >= 34000),
         kept AS (SELECT g.doc_id, g.text FROM gated g
           JOIN fluent USING (doc_id)),
         canon AS (SELECT arg_min(doc_id, doc_id) AS doc_id,
             arg_min(length(text), doc_id) AS n_chars
           FROM kept GROUP BY md5(text))
         SELECT $h % 16 AS shard, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum($h % ${Dedup.P}) AS BIGINT) AS id_checksum
         FROM canon GROUP BY shard ORDER BY shard"""
    },
    "q77_search" ->
      """WITH tf AS (SELECT doc_id, token, count(*) AS tf_doc FROM (
           SELECT doc_id, unnest(string_split(text,' ')) AS token
           FROM documents)
           WHERE token IN ('table','join','fast') GROUP BY doc_id, token),
         idf AS (SELECT token,
           CAST((SELECT count(*) FROM documents) // count(*) AS BIGINT)
             AS idf_int FROM tf GROUP BY token)
         SELECT doc_id, CAST(sum(tf_doc * idf_int) AS BIGINT) AS score,
           count(*) AS n_terms_hit
         FROM tf JOIN idf USING (token) GROUP BY doc_id
         ORDER BY score DESC, doc_id LIMIT 20""",
    "q80_hybrid_search" ->
      s"""WITH tf AS (SELECT doc_id, token, count(*) AS tf_doc FROM (
           SELECT doc_id, unnest(string_split(text,' ')) AS token
           FROM documents)
           WHERE token IN ('table','join','fast') GROUP BY doc_id, token),
         idf AS (SELECT token,
           CAST((SELECT count(*) FROM documents) // count(*) AS BIGINT)
             AS idf_int FROM tf GROUP BY token),
         kw0 AS (SELECT doc_id, CAST(sum(tf_doc * idf_int) AS BIGINT)
             AS score
           FROM tf JOIN idf USING (token) GROUP BY doc_id
           ORDER BY score DESC, doc_id LIMIT 100),
         kw AS (SELECT doc_id, row_number()
             OVER (ORDER BY score DESC, doc_id) AS kw_rank FROM kw0),
         $EMB_NORM,
         q AS (SELECT embedding AS qe, nsq AS qnsq FROM e WHERE vec_id = 0),
         v0 AS (SELECT e.vec_id AS doc_id,
             CAST(${dotQ("qe", "e.embedding")} AS DOUBLE) /
               (sqrt(CAST(qnsq AS DOUBLE)) * sqrt(CAST(e.nsq AS DOUBLE)))
               AS cosine
           FROM e, q WHERE e.vec_id != 0
           ORDER BY cosine DESC, doc_id LIMIT 100),
         v AS (SELECT doc_id, row_number()
             OVER (ORDER BY cosine DESC, doc_id) AS vec_rank FROM v0)
         SELECT doc_id, kw_rank, vec_rank,
           coalesce(1.0 / (kw_rank + 60), 0) + coalesce(1.0 / (vec_rank + 60), 0)
             AS rrf
         FROM kw FULL OUTER JOIN v USING (doc_id)
         ORDER BY rrf DESC, doc_id LIMIT 10""",
    // the merged half-indexes must reproduce the full corpus's bucket
    // sizes exactly (sentinel cap at 65 = maxBucket + 1)
    "q96_index_merge" ->
      s"""WITH ${SIG_BANDS("documents")}
         SELECT band, key,
           CAST(least(count(DISTINCT doc_id), 65) AS INT) AS n_ids
         FROM banded0 GROUP BY band, key ORDER BY band, key""",
    // q80's RRF shape with the q83 BM25 scorer as the lexical pool
    "q93_hybrid_bm25" ->
      s"""WITH stats AS (SELECT count(*) AS n,
           CAST(sum(len(string_split(text,' '))) AS BIGINT) AS sumdl
           FROM documents),
         rl AS (SELECT doc_id, CAST(round(
             1000000.0 * len(string_split(text,' ')) /
               (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)), 0) AS BIGINT)
             AS rl
           FROM documents, stats),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM (
           SELECT doc_id, unnest(string_split(text,' ')) AS token
           FROM documents)
           WHERE token IN ('table','join','fast') GROUP BY doc_id, token),
         idf AS (SELECT token,
           CAST((SELECT n FROM stats) // count(*) AS BIGINT) AS idf_int
           FROM tf GROUP BY token),
         kw0 AS (SELECT tf.doc_id,
           CAST(sum(idf.idf_int * ((tf.tf * 4400000000000) //
             (20000000*tf.tf + 6000000 + 18*rl.rl))) AS BIGINT) AS score
           FROM tf JOIN idf USING (token) JOIN rl ON tf.doc_id = rl.doc_id
           GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id LIMIT 100),
         kw AS (SELECT doc_id, row_number()
             OVER (ORDER BY score DESC, doc_id) AS kw_rank FROM kw0),
         $EMB_NORM,
         q AS (SELECT embedding AS qe, nsq AS qnsq FROM e WHERE vec_id = 0),
         v0 AS (SELECT e.vec_id AS doc_id,
             CAST(${dotQ("qe", "e.embedding")} AS DOUBLE) /
               (sqrt(CAST(qnsq AS DOUBLE)) * sqrt(CAST(e.nsq AS DOUBLE)))
               AS cosine
           FROM e, q WHERE e.vec_id != 0
           ORDER BY cosine DESC, doc_id LIMIT 100),
         v AS (SELECT doc_id, row_number()
             OVER (ORDER BY cosine DESC, doc_id) AS vec_rank FROM v0)
         SELECT doc_id, kw_rank, vec_rank,
           coalesce(1.0 / (kw_rank + 60), 0) + coalesce(1.0 / (vec_rank + 60), 0)
             AS rrf
         FROM kw FULL OUTER JOIN v USING (doc_id)
         ORDER BY rrf DESC, doc_id LIMIT 10""",
    // the q80 RRF shape generalized to a query BATCH: per-query pools
    // (PARTITION BY query_id windows mirror the bounded aggregators),
    // idf over the union term set, per-query fuse
    "q99_hybrid_batch" ->
      s"""WITH qdef AS (SELECT CAST(query_id AS BIGINT) AS query_id, terms,
           CAST(qvec_id AS BIGINT) AS qvec_id
           FROM (VALUES (0, ['table','join','fast'], 0),
             (1, ['scan','merge','sort'], 1),
             (2, ['stream','window'], 2)) v(query_id, terms, qvec_id)),
         qt AS (SELECT query_id, unnest(terms) AS token FROM qdef),
         toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf_doc FROM toks
           WHERE token IN (SELECT DISTINCT token FROM qt)
           GROUP BY doc_id, token),
         idf AS (SELECT token,
           CAST((SELECT count(*) FROM documents) // count(*) AS BIGINT)
             AS idf_int
           FROM tf GROUP BY token),
         kws AS (SELECT qt.query_id, tf.doc_id,
             CAST(sum(tf.tf_doc * idf.idf_int) AS BIGINT) AS score
           FROM tf JOIN idf USING (token) JOIN qt USING (token)
           GROUP BY qt.query_id, tf.doc_id),
         kw AS (SELECT query_id, doc_id, kw_rank FROM (
           SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, doc_id) AS kw_rank FROM kws)
           WHERE kw_rank <= 100),
         $EMB_NORM,
         qv AS (SELECT q.query_id, q.qvec_id, e.embedding AS qe,
             e.nsq AS qnsq
           FROM qdef q JOIN e ON e.vec_id = q.qvec_id),
         vs AS (SELECT qv.query_id, e.vec_id AS doc_id,
             CAST(${dotQ("qe", "e.embedding")} AS DOUBLE) /
               (sqrt(CAST(qnsq AS DOUBLE)) * sqrt(CAST(e.nsq AS DOUBLE)))
               AS cosine
           FROM e, qv WHERE e.vec_id != qv.qvec_id),
         vec AS (SELECT query_id, doc_id, vec_rank FROM (
           SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, doc_id) AS vec_rank FROM vs)
           WHERE vec_rank <= 100),
         fused AS (SELECT query_id, doc_id, kw_rank, vec_rank,
             coalesce(1.0 / (kw_rank + 60), 0) +
               coalesce(1.0 / (vec_rank + 60), 0) AS rrf
           FROM kw FULL OUTER JOIN vec USING (query_id, doc_id))
         SELECT query_id, doc_id, kw_rank, vec_rank, rrf, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY rrf DESC, doc_id) AS rank FROM fused)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // q99's batch shape with q93's integerized BM25 lexical scorer
    "q113_hybrid_batch_bm25" ->
      s"""WITH qdef AS (SELECT CAST(query_id AS BIGINT) AS query_id, terms,
           CAST(qvec_id AS BIGINT) AS qvec_id
           FROM (VALUES (0, ['table','join','fast'], 0),
             (1, ['scan','merge','sort'], 1),
             (2, ['stream','window'], 2)) v(query_id, terms, qvec_id)),
         qt AS (SELECT query_id, unnest(terms) AS token FROM qdef),
         stats AS (SELECT count(*) AS n,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sumdl
           FROM documents),
         rl AS (SELECT doc_id, CAST(round(
             1000000.0 * len(string_split(text, ' ')) /
               (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)), 0) AS BIGINT)
             AS rl
           FROM documents, stats),
         toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf_doc FROM toks
           WHERE token IN (SELECT DISTINCT token FROM qt)
           GROUP BY doc_id, token),
         idf AS (SELECT token,
           CAST((SELECT n FROM stats) // count(*) AS BIGINT) AS idf_int
           FROM tf GROUP BY token),
         kws AS (SELECT qt.query_id, tf.doc_id,
             CAST(sum(idf.idf_int * ((tf.tf_doc * 4400000000000) //
               (20000000*tf.tf_doc + 6000000 + 18*rl.rl))) AS BIGINT)
               AS score
           FROM tf JOIN idf USING (token) JOIN qt USING (token)
             JOIN rl ON tf.doc_id = rl.doc_id
           GROUP BY qt.query_id, tf.doc_id),
         kw AS (SELECT query_id, doc_id, kw_rank FROM (
           SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, doc_id) AS kw_rank FROM kws)
           WHERE kw_rank <= 100),
         $EMB_NORM,
         qv AS (SELECT q.query_id, q.qvec_id, e.embedding AS qe,
             e.nsq AS qnsq
           FROM qdef q JOIN e ON e.vec_id = q.qvec_id),
         vs AS (SELECT qv.query_id, e.vec_id AS doc_id,
             CAST(${dotQ("qe", "e.embedding")} AS DOUBLE) /
               (sqrt(CAST(qnsq AS DOUBLE)) * sqrt(CAST(e.nsq AS DOUBLE)))
               AS cosine
           FROM e, qv WHERE e.vec_id != qv.qvec_id),
         vec AS (SELECT query_id, doc_id, vec_rank FROM (
           SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, doc_id) AS vec_rank FROM vs)
           WHERE vec_rank <= 100),
         fused AS (SELECT query_id, doc_id, kw_rank, vec_rank,
             coalesce(1.0 / (kw_rank + 60), 0) +
               coalesce(1.0 / (vec_rank + 60), 0) AS rrf
           FROM kw FULL OUTER JOIN vec USING (query_id, doc_id))
         SELECT query_id, doc_id, kw_rank, vec_rank, rrf, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY rrf DESC, doc_id) AS rank FROM fused)
         WHERE rank <= 10 ORDER BY query_id, rank""",
    // SemDeDup over the shared k-means chain: within-cell pairs, cosine
    // from exact integer dots, keep-first (min lower-id partner)
    "q82_semantic_dedup" ->
      s"""WITH ${kmeansChain(1)},
         p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
             CAST(${dotL("a.qv", "b.qv")} AS DOUBLE) /
               (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE)))
               AS cos
           FROM assigned a JOIN assigned b
             ON a.cell = b.cell AND a.vec_id < b.vec_id),
         dups AS (SELECT vb AS vec_id, min(va) AS dup_of FROM p
           WHERE cos >= 0.4 GROUP BY vb)
         SELECT a.vec_id, a.cell, d.dup_of, d.dup_of IS NOT NULL AS is_dup
         FROM assigned a LEFT JOIN dups d ON a.vec_id = d.vec_id
         ORDER BY a.vec_id""",
    // integerized BM25: one rounded division (rl), integer div before
    // the idf multiply, order-independent integer sum — see
    // TextAnalysis.bm25Search for the constant derivation
    "q83_bm25" ->
      """WITH stats AS (SELECT count(*) AS n,
           CAST(sum(len(string_split(text,' '))) AS BIGINT) AS sumdl
           FROM documents),
         rl AS (SELECT doc_id, CAST(round(
             1000000.0 * len(string_split(text,' ')) /
               (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)), 0) AS BIGINT)
             AS rl
           FROM documents, stats),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM (
           SELECT doc_id, unnest(string_split(text,' ')) AS token
           FROM documents)
           WHERE token IN ('table','join','fast') GROUP BY doc_id, token),
         idf AS (SELECT token,
           CAST((SELECT n FROM stats) // count(*) AS BIGINT) AS idf_int
           FROM tf GROUP BY token)
         SELECT tf.doc_id,
           CAST(sum(idf.idf_int * ((tf.tf * 4400000000000) //
             (20000000*tf.tf + 6000000 + 18*rl.rl))) AS BIGINT) AS score,
           count(*) AS n_terms_hit
         FROM tf JOIN idf USING (token) JOIN rl ON tf.doc_id = rl.doc_id
         GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id LIMIT 20""",
    // product quantization: hash-rank-sampled per-subspace codebooks,
    // argmin encode, ADC = sum of 8 exact integer table entries
    "q84_ann_pq" -> pqOracle(0),
    // same chain with 2 Lloyd refinement iterations over the codebook
    // (mirrors Similarity.refineCodebook: assignment keyed by (vec, sub),
    // centroid update by positive-offset integer floor division, codes
    // that lose all members keep their previous entry)
    "q94_ann_pq_trained" -> pqOracle(2),
    "q115_ann_pq_cbsampled" -> pqOracle(2, cbSampleMod = 2),
    // IVF-PQ over the shared k-means chain: residuals against the cell
    // centroid, hash-rank residual codebooks, per-(query, cell) ADC
    "q87_ann_ivfpq" -> ivfPqOracle("TRUE",
      """q AS (SELECT vec_id AS query_id, qv AS qqv, nsq AS qnsq FROM en
           WHERE vec_id < 10)"""),
    // incremental ANN: the index builds on the 90% corpus only; the
    // fresh 10% quantizes independently and searches the prebuilt index
    // (no self-exclusion: external query ids are their own namespace)
    "q95_ann_incremental" -> ivfPqOracle(excludeSelf = false,
      corpusPred = "vec_id % 10 != 0", queryCte =
      s"""qf AS (SELECT vec_id,
           list_transform(embedding, x -> ${TextKit.ducksql.quant("x")})
             AS qqv
           FROM embeddings WHERE vec_id % 10 = 0),
         q AS (SELECT vec_id AS query_id, qqv,
           ${dotL("qqv", "qqv")} AS qnsq FROM qf)"""),
    // feed-maintained IVF-PQ: training (k-means init/Lloyd + codebook
    // sample) reads the FULL base snapshot (vec_id % 10 != 0, including
    // the rows the feed later deletes — that is what the index was
    // trained on at fromV); encode and search cover only the HEAD row
    // set (base minus the boxed delete quarter, plus the inserted 10%).
    // eq carries the union of both row sets (kmeansChain eqPred); the
    // head restriction lands at enc. Queries are external (vec_id < 10
    // raw embeddings), so no self-exclusion.
    "q214_feed_ivfpq_maintain" -> feedIvfPqMaintainSql,
    // streamed one commit per micro-batch, inductively exact — the
    // final state shares q214's batch oracle
    "q216_stream_ivfpq_maintain" -> feedIvfPqMaintainSql,
    // append-without-retrain: k-means init/Lloyd AND the codebook sample
    // read only the 90% base (trainPred); cell assignment, residual
    // encode and search cover the full corpus — the frozen-training
    // mirror of Similarity.appendIvfPq
    "q123_ann_ivfpq_append" -> ivfPqOracle(corpusPred = "TRUE",
      trainPred = "vec_id % 10 != 0", queryCte =
      """q AS (SELECT vec_id AS query_id, qv AS qqv, nsq AS qnsq FROM en
           WHERE vec_id < 10)"""),
    // BPE training: 8 unrolled greedy-merge stages over the
    // word-frequency table; each stage's argmax pair is one output row
    "q124_bpe_train" ->
      s"""WITH ${bpeChain(8)}
         SELECT * FROM (${(1 to 8).map(t =>
          s"SELECT $t AS rank, lhs, rhs, n AS pair_n FROM bp$t")
          .mkString(" UNION ALL ")})
         ORDER BY rank""",
    // per-doc token counts under the trained tokenizer (full-corpus
    // training), via the distinct-word dictionary re-encoded through
    // the same learned rules
    "q125_bpe_tokens" -> bpeCountsSql(8, "TRUE"),
    // merges learned from the 1/2 doc hash-sample; encode covers all
    "q126_bpe_tokens_sampled" -> bpeCountsSql(8,
      s"${TextKit.ducksql.md5Long("CAST(doc_id AS VARCHAR)")} % 2 = 0"),
    // rate-form token mix re-based on the trained tokenizer: the BPE
    // chain feeds per-doc counts into the q86 rate/admission tail
    "q128_bpe_token_mix" -> {
      val h = TextKit.ducksql.md5Long("CAST(d.doc_id AS VARCHAR)")
      s"""WITH ${bpeChain(8)},
         wsf AS (SELECT word, CAST(len(list_filter(string_split(sym,
             chr(31)), x -> x <> '')) AS BIGINT) AS n_sym FROM bws8),
         dw AS (SELECT doc_id, word, count(*) AS n FROM
             (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents)
           WHERE word <> '' GROUP BY doc_id, word),
         dt AS (SELECT doc_id, CAST(sum(n * n_sym) AS BIGINT) AS tok
           FROM dw JOIN wsf ON dw.word = wsf.word GROUP BY doc_id),
         t AS (SELECT d.doc_id, d.source, dt.tok, $h AS hkey
           FROM documents d JOIN dt ON d.doc_id = dt.doc_id),
         rated AS (SELECT source,
           CASE WHEN b >= total THEN 10000
             ELSE (10000 * b) // total END AS rate
           FROM (SELECT source, CAST(sum(tok) AS BIGINT) AS total,
             CASE WHEN source = 'src1' THEN 0
               WHEN source = 'src0' THEN 700 ELSE 500 END AS b
             FROM t GROUP BY source))
         SELECT t.doc_id, t.source, t.tok
         FROM t JOIN rated ON t.source = rated.source
         WHERE t.hkey % 10000 < rated.rate
         ORDER BY t.source, t.doc_id"""
    },
    // streaming BPE metering equals the batch q125 counts row-for-row
    "q129_stream_bpe" -> bpeCountsSql(8, "TRUE"),
    // hashed char-bigram quality classifier: Laplace-smoothed posterior
    // weights in integer ppm from the even-id training slice, mean
    // bucket weight per (doc, variant), neutral prior for unseen
    "q127_quality_classifier" -> classifierSql,
    // merged-slice training is count-additive, so the scored output is
    // the SAME relation as the monolithic q127 chain
    "q130_classifier_merge" -> classifierSql,
    // the PGM payloads are synthesized from the text (first 128 ASCII
    // bytes, space-padded), so the oracle recomputes the decoded stats
    // from the text without ever seeing the binary — a genuine
    // cross-representation check of the byte-level parser
    "q89_pgm_decode" ->
      """WITH px AS (SELECT doc_id, list_transform(generate_series(1, 128),
           i -> unicode(substr(rpad(text, 128, ' '), i, 1))) AS p
           FROM documents)
         SELECT doc_id AS media_id, 16 AS width, 8 AS height, 255 AS maxval,
           CAST(CAST(list_sum(p) AS BIGINT) * 1000 // 128 AS BIGINT)
             AS mean_permille,
           CAST(list_min(p) AS INT) AS min_px,
           CAST(list_max(p) AS INT) AS max_px
         FROM px ORDER BY media_id""",
    // WAV samples derive only from the media id, so the oracle replays
    // the sample formula and must match the byte-level PCM parse
    "q90_wav_decode" ->
      """WITH w AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
         a AS (SELECT doc_id, n,
           list_transform(generate_series(0, CAST(n - 1 AS INT)),
             k -> abs((doc_id*31 + k*17) % 2048 - 1024)) AS s
           FROM w)
         SELECT doc_id AS media_id, 8000 AS sample_rate, 1 AS n_channels,
           16 AS bits, CAST(n AS INT) AS n_samples,
           CAST(list_sum(s) AS BIGINT) AS abs_sum,
           CAST(list_max(s) AS INT) AS peak
         FROM a ORDER BY media_id""",
    // G.711 companded bytes derive only from the media id; the oracle
    // replays the byte stream and the CCITT mu-law expansion (invert,
    // ((mantissa<<3)+132)<<segment, re-bias) — all-integer on both sides
    "q193_g711_ulaw" ->
      """WITH w AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
         a AS (SELECT doc_id, n,
           list_transform(generate_series(0, CAST(n - 1 AS INT)),
             k -> 255 - CAST((doc_id*31 + k*17) % 256 AS INT)) AS u
           FROM w),
         e AS (SELECT doc_id, n,
           list_transform(u, x -> abs(CASE WHEN (x & 128) != 0
             THEN 132 - (((x & 15) * 8 + 132) * (1 << ((x & 112) // 16)))
             ELSE (((x & 15) * 8 + 132) * (1 << ((x & 112) // 16))) - 132
             END)) AS s
           FROM a)
         SELECT doc_id AS media_id, 'ulaw' AS law, 8000 AS sample_rate,
           CAST(n AS INT) AS n_samples,
           CAST(list_sum(s) AS BIGINT) AS abs_sum,
           CAST(list_max(s) AS INT) AS peak
         FROM e ORDER BY media_id""",
    // A-law twin: XOR 0x55, segment 0 special-cased, sign bit set = +
    "q194_g711_alaw" ->
      """WITH w AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
         a AS (SELECT doc_id, n,
           list_transform(generate_series(0, CAST(n - 1 AS INT)),
             k -> xor(CAST((doc_id*31 + k*17) % 256 AS INT), 85)) AS v
           FROM w),
         e AS (SELECT doc_id, n,
           list_transform(v, x -> CASE WHEN ((x & 112) // 16) = 0
             THEN (x & 15) * 16 + 8
             ELSE ((x & 15) * 16 + 264) * (1 << (((x & 112) // 16) - 1))
             END) AS s
           FROM a)
         SELECT doc_id AS media_id, 'alaw' AS law, 8000 AS sample_rate,
           CAST(n AS INT) AS n_samples,
           CAST(list_sum(s) AS BIGINT) AS abs_sum,
           CAST(list_max(s) AS INT) AS peak
         FROM e ORDER BY media_id""",
    // blob labeling replayed: same encoded ids, same 4-connectivity
    // edge arithmetic, recursive closure per blob (sz^2 bounded by the
    // 128-pixel image), singletons unioned back
    "q207_blob_labels" ->
      """WITH RECURSIVE px AS (SELECT doc_id AS media_id,
           unnest(generate_series(1, 128)) AS i, text FROM documents),
         onpx AS (SELECT media_id * 128 + (i - 1) AS id, i - 1 AS pos
           FROM px
           WHERE unicode(substr(rpad(text, 128, ' '), CAST(i AS INT), 1))
             >= 64),
         e0 AS (SELECT a.id AS x, b.id AS y FROM onpx a
             JOIN onpx b ON b.id = a.id + 1 WHERE a.pos % 16 <> 15
           UNION ALL SELECT a.id, b.id FROM onpx a
             JOIN onpx b ON b.id = a.id + 16 WHERE a.pos < 112),
         e AS (SELECT x, y FROM e0 UNION SELECT y, x FROM e0),
         r AS (SELECT x, y FROM e
           UNION SELECT r.x, e.y FROM r JOIN e ON r.y = e.x),
         comp AS (SELECT x AS id, least(x, min(y)) AS cid FROM r GROUP BY x),
         allc AS (SELECT id, cid FROM comp
           UNION ALL SELECT id, id FROM onpx
           WHERE id NOT IN (SELECT x FROM e)),
         blobs AS (SELECT id // 128 AS media_id, cid, count(*) AS sz
           FROM allc GROUP BY 1, 2)
         SELECT media_id, CAST(count(*) AS BIGINT) AS n_blobs,
           CAST(max(sz) AS BIGINT) AS max_blob
         FROM blobs GROUP BY media_id ORDER BY media_id""",
    // equalization replayed over the text-derived pixels: same CDF
    // window, same integer remap, constant images to 0
    "q206_hist_equalize" ->
      """WITH px AS (SELECT doc_id AS media_id,
           unnest(list_transform(generate_series(1, 128),
             i -> unicode(substr(rpad(text, 128, ' '), i, 1)))) AS px
           FROM documents),
         hist AS (SELECT media_id, px, count(*) AS cnt FROM px
           GROUP BY media_id, px),
         c AS (SELECT media_id, px, cnt,
           sum(cnt) OVER (PARTITION BY media_id ORDER BY px) AS cdf
           FROM hist),
         m AS (SELECT media_id, px, cnt, cdf,
           max(cdf) OVER (PARTITION BY media_id) AS n,
           min(cdf) OVER (PARTITION BY media_id) AS cdfmin FROM c)
         SELECT media_id, CAST(px AS INT) AS px, CAST(cnt AS BIGINT) AS cnt,
           CAST(CASE WHEN n = cdfmin THEN 0
             ELSE (cdf - cdfmin) * 255 // (n - cdfmin) END AS BIGINT) AS eq
         FROM m ORDER BY media_id, px""",
    // WHT perceptual hash replayed over the text-derived 16x8 pixels:
    // 8x8 block floor-means, 64 exact-integer Walsh-Hadamard
    // coefficients ((-1)^(popcount(bx&u)+popcount(by&v)) kernel), the
    // 63 non-DC coefficients thresholded at their 32nd-smallest value
    "q215_image_phash" ->
      """WITH e AS (SELECT doc_id, i - 1 AS p,
           unicode(substr(rpad(text, 128, ' '), i, 1)) AS v
           FROM documents, generate_series(1, 128) g(i)),
         blk AS (SELECT doc_id,
             (((p // 16) * 8) // 8) * 8 + (((p % 16) * 8) // 16) AS b,
             CAST(sum(v) // count(*) AS BIGINT) AS m
           FROM e GROUP BY 1, 2),
         wht AS (SELECT doc_id, k,
             CAST(sum(m * (1 - 2 * ((bit_count((b % 8) & (k % 8)) +
               bit_count((b // 8) & (k // 8))) % 2))) AS BIGINT) AS c
           FROM blk, generate_series(0, 63) g(k) GROUP BY 1, 2),
         med AS (SELECT doc_id, c AS medv FROM (
             SELECT doc_id, c,
               row_number() OVER (PARTITION BY doc_id ORDER BY c) AS rn
             FROM wht WHERE k > 0) WHERE rn = 32)
         SELECT w.doc_id AS media_id,
           CAST(sum(CASE WHEN w.c > med.medv
             THEN CAST(1 AS BIGINT) << CAST(k - 1 AS INT) ELSE 0 END)
             AS BIGINT) AS phash
         FROM wht w JOIN med ON w.doc_id = med.doc_id
         WHERE w.k > 0 GROUP BY 1 ORDER BY media_id""",
    // dHash replayed over the text-derived 16x8 pixels: sample columns
    // x*16//9 = [0,1,3,5,7,8,10,12,14], bit b set iff the right sample
    // of row b//8 is strictly brighter
    "q198_image_dhash" ->
      """WITH px AS (SELECT doc_id, list_transform(generate_series(1, 128),
           i -> unicode(substr(rpad(text, 128, ' '), i, 1))) AS p
           FROM documents),
         sxl AS (SELECT [0,1,3,5,7,8,10,12,14] AS s)
         SELECT doc_id AS media_id,
           CAST(list_sum(list_transform(generate_series(0, 31), b ->
             CASE WHEN p[(b//8)*16 + s[CAST(b%8+2 AS INT)] + 1]
                     > p[(b//8)*16 + s[CAST(b%8+1 AS INT)] + 1]
               THEN 1::BIGINT << CAST(b AS INT) ELSE 0 END)) AS BIGINT)
             AS h_hi,
           CAST(list_sum(list_transform(generate_series(32, 63), b ->
             CASE WHEN p[(b//8)*16 + s[CAST(b%8+2 AS INT)] + 1]
                     > p[(b//8)*16 + s[CAST(b%8+1 AS INT)] + 1]
               THEN 1::BIGINT << CAST(b - 32 AS INT) ELSE 0 END)) AS BIGINT)
             AS h_lo
         FROM px, sxl ORDER BY media_id""",
    // banded Hamming chain over the dHash table, mirroring the LSH
    // bucket-cap convention (buckets > 64 drop from candidate gen)
    "q199_image_neardup" ->
      """WITH px AS (SELECT doc_id, list_transform(generate_series(1, 128),
           i -> unicode(substr(rpad(text, 128, ' '), i, 1))) AS p
           FROM documents),
         sxl AS (SELECT [0,1,3,5,7,8,10,12,14] AS s),
         hs AS (SELECT doc_id AS media_id,
           CAST(list_sum(list_transform(generate_series(0, 31), b ->
             CASE WHEN p[(b//8)*16 + s[CAST(b%8+2 AS INT)] + 1]
                     > p[(b//8)*16 + s[CAST(b%8+1 AS INT)] + 1]
               THEN 1::BIGINT << CAST(b AS INT) ELSE 0 END)) AS BIGINT)
             AS h_hi,
           CAST(list_sum(list_transform(generate_series(32, 63), b ->
             CASE WHEN p[(b//8)*16 + s[CAST(b%8+2 AS INT)] + 1]
                     > p[(b//8)*16 + s[CAST(b%8+1 AS INT)] + 1]
               THEN 1::BIGINT << CAST(b - 32 AS INT) ELSE 0 END)) AS BIGINT)
             AS h_lo
           FROM px, sxl),
         banded0 AS (
           SELECT media_id, 0 AS band, h_hi & 65535 AS key FROM hs
           UNION ALL SELECT media_id, 1, h_hi >> 16 FROM hs
           UNION ALL SELECT media_id, 2, h_lo & 65535 FROM hs
           UNION ALL SELECT media_id, 3, h_lo >> 16 FROM hs),
         ok AS (SELECT band, key FROM banded0 GROUP BY band, key
           HAVING count(*) <= 64),
         banded AS (SELECT banded0.* FROM banded0 JOIN ok
           ON banded0.band = ok.band AND banded0.key = ok.key),
         cand AS (SELECT DISTINCT l.media_id AS media_a,
             r.media_id AS media_b
           FROM banded l JOIN banded r ON l.band = r.band
             AND l.key = r.key AND l.media_id < r.media_id),
         ham AS (SELECT media_a, media_b,
           CAST(bit_count(xor(a.h_hi, b.h_hi))
             + bit_count(xor(a.h_lo, b.h_lo)) AS INT) AS hamming
           FROM cand JOIN hs a ON cand.media_a = a.media_id
             JOIN hs b ON cand.media_b = b.media_id)
         SELECT media_a, media_b, hamming FROM ham WHERE hamming <= 3
         ORDER BY media_a, media_b""",
    // the feed replays batch 2+3 as inserts and the boxed key range of
    // batches 1+2 as deletes; the compaction between them is invisible
    "q196_change_feed" ->
      """WITH b AS (SELECT min(o_orderkey) AS klo, max(o_orderkey) AS khi
           FROM orders)
         SELECT 'insert' AS change_type, o_orderkey, o_custkey,
           o_totalprice
         FROM orders WHERE o_orderkey % 3 IN (1, 2)
         UNION ALL
         SELECT 'delete' AS change_type, o_orderkey, o_custkey,
           o_totalprice
         FROM orders, b
         WHERE o_orderkey % 3 IN (0, 1)
           AND o_orderkey BETWEEN klo + (khi - klo) // 4
             AND klo + (khi - klo) // 2
         ORDER BY change_type, o_orderkey""",
    // maintained state == full recompute over the head's logical table:
    // batch-1/2 rows outside the deleted box, plus all of batch 3
    // (appended after the delete, so its boxed keys survive)
    "q197_incremental_agg" ->
      """WITH b AS (SELECT min(o_orderkey) AS klo, max(o_orderkey) AS khi
           FROM orders),
         fin AS (SELECT o_orderkey, o_custkey FROM orders, b
           WHERE o_orderkey % 3 = 2
              OR o_orderkey NOT BETWEEN klo + (khi - klo) // 4
                AND klo + (khi - klo) // 2)
         SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o_orderkey) AS BIGINT) AS sum_key
         FROM fin GROUP BY o_custkey ORDER BY o_custkey""",
    // maintained join view == the head's logical fact rows joined fresh
    "q234_incremental_join" ->
      """WITH b AS (SELECT min(o_orderkey) AS klo, max(o_orderkey) AS khi
           FROM orders),
         fin AS (SELECT o_orderkey, o_custkey, o_totalprice
           FROM orders, b
           WHERE o_orderkey % 3 = 2
              OR o_orderkey NOT BETWEEN klo + (khi - klo) // 4
                AND klo + (khi - klo) // 2)
         SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment
         FROM fin JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    // nearest-neighbor 16x8 -> 8x4: out pixel (x,y) samples src (2x,2y);
    // the oracle replays that grid over the text-derived pixels
    "q91_pgm_resize" ->
      """WITH px AS (SELECT doc_id, list_transform(generate_series(1, 128),
           i -> unicode(substr(rpad(text, 128, ' '), i, 1))) AS p
           FROM documents),
         r AS (SELECT doc_id, list_transform(generate_series(0, 31),
           j -> p[(j // 8) * 2 * 16 + (j % 8) * 2 + 1]) AS rp FROM px)
         SELECT doc_id AS media_id, 8 AS width, 4 AS height, 255 AS maxval,
           CAST(CAST(list_sum(rp) AS BIGINT) * 1000 // 32 AS BIGINT)
             AS mean_permille,
           CAST(list_min(rp) AS INT) AS min_px,
           CAST(list_max(rp) AS INT) AS max_px
         FROM r ORDER BY media_id""",
    // windowed energy: replay the sample formula per 16-sample window;
    // the final window is partial when n % 16 != 0
    "q92_wav_energy" ->
      """WITH w AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
         wi AS (SELECT doc_id, n,
           unnest(generate_series(0, CAST((n - 1) // 16 AS INT))) AS win
           FROM w),
         e AS (SELECT doc_id, win,
           list_transform(generate_series(CAST(win * 16 AS INT),
               CAST(least(n, win * 16 + 16) - 1 AS INT)),
             k -> abs((doc_id*31 + k*17) % 2048 - 1024)) AS s
           FROM wi)
         SELECT doc_id AS media_id, CAST(win AS INT) AS win_idx,
           CAST(len(s) AS INT) AS n_in_win,
           CAST(list_sum(s) AS BIGINT) AS energy,
           CAST(list_max(s) AS INT) AS peak
         FROM e ORDER BY media_id, win_idx""",
    // PNG is lossless: the decoded stats equal the text-derived pixel
    // stats exactly (q89's oracle math, no maxval field)
    "q97_png_decode" ->
      """WITH px AS (SELECT doc_id, list_transform(generate_series(1, 128),
           i -> unicode(substr(rpad(text, 128, ' '), i, 1))) AS p
           FROM documents)
         SELECT doc_id AS media_id, 16 AS width, 8 AS height,
           CAST(CAST(list_sum(p) AS BIGINT) * 1000 // 128 AS BIGINT)
             AS mean_permille,
           CAST(list_min(p) AS INT) AS min_px,
           CAST(list_max(p) AS INT) AS max_px
         FROM px ORDER BY media_id""",
    // the resized-through-PNG grid equals q91's text-derived replay
    // (PNG is lossless and the sampling math is shared with resizePgm)
    "q109_png_resize" ->
      """WITH px AS (SELECT doc_id, list_transform(generate_series(1, 128),
           i -> unicode(substr(rpad(text, 128, ' '), i, 1))) AS p
           FROM documents),
         r AS (SELECT doc_id, list_transform(generate_series(0, 31),
           j -> p[(j // 8) * 2 * 16 + (j % 8) * 2 + 1]) AS rp FROM px)
         SELECT doc_id AS media_id, 8 AS width, 4 AS height,
           CAST(CAST(list_sum(rp) AS BIGINT) * 1000 // 32 AS BIGINT)
             AS mean_permille,
           CAST(list_min(rp) AS INT) AS min_px,
           CAST(list_max(rp) AS INT) AS max_px
         FROM r ORDER BY media_id""",
    // animated-GIF frame sampling: frames 0 and 2 of 4, each frame's
    // pixels = the 128 text bytes at offset frame*128 (space-padded) —
    // the oracle replays exactly the sampled frames' substrings
    // per-frame dHash replayed from the 4-frame text slices (frame f's
    // pixels are text bytes [f*128, (f+1)*128) space-padded to 512),
    // then lag Hamming over frame order; keyframe = first or > 3 bits
    "q219_gif_keyframes" ->
      """WITH px AS (SELECT doc_id, f,
           list_transform(generate_series(1, 128),
             i -> unicode(substr(rpad(text, 512, ' '), f * 128 + i, 1)))
             AS p
           FROM documents, (VALUES (0), (1), (2), (3)) v(f)),
         sxl AS (SELECT [0,1,3,5,7,8,10,12,14] AS s),
         hs AS (SELECT doc_id, f,
           CAST(list_sum(list_transform(generate_series(0, 31), b ->
             CASE WHEN p[(b//8)*16 + s[CAST(b%8+2 AS INT)] + 1]
                     > p[(b//8)*16 + s[CAST(b%8+1 AS INT)] + 1]
               THEN 1::BIGINT << CAST(b AS INT) ELSE 0 END)) AS BIGINT)
             AS hhi,
           CAST(list_sum(list_transform(generate_series(32, 63), b ->
             CASE WHEN p[(b//8)*16 + s[CAST(b%8+2 AS INT)] + 1]
                     > p[(b//8)*16 + s[CAST(b%8+1 AS INT)] + 1]
               THEN 1::BIGINT << CAST(b - 32 AS INT) ELSE 0 END)) AS BIGINT)
             AS hlo
           FROM px, sxl),
         sc AS (SELECT doc_id, f, hhi, hlo,
           lag(hhi) OVER (PARTITION BY doc_id ORDER BY f) AS phi,
           lag(hlo) OVER (PARTITION BY doc_id ORDER BY f) AS plo
           FROM hs)
         SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
           CAST(CASE WHEN phi IS NULL THEN -1
             ELSE bit_count(xor(hhi, phi)) + bit_count(xor(hlo, plo))
             END AS INT) AS hamming_prev,
           (phi IS NULL OR
             bit_count(xor(hhi, phi)) + bit_count(xor(hlo, plo)) > 3)
             AS is_keyframe
         FROM sc ORDER BY media_id, frame_idx""",
    // the q219 keyframe set under frame-unique ids (doc*4 + f), then
    // the q199 banded chain over those fingerprints
    "q220_keyframe_neardup" ->
      """WITH px AS (SELECT doc_id, f,
           list_transform(generate_series(1, 128),
             i -> unicode(substr(rpad(text, 512, ' '), f * 128 + i, 1)))
             AS p
           FROM documents, (VALUES (0), (1), (2), (3)) v(f)),
         sxl AS (SELECT [0,1,3,5,7,8,10,12,14] AS s),
         hs0 AS (SELECT doc_id, f,
           CAST(list_sum(list_transform(generate_series(0, 31), b ->
             CASE WHEN p[(b//8)*16 + s[CAST(b%8+2 AS INT)] + 1]
                     > p[(b//8)*16 + s[CAST(b%8+1 AS INT)] + 1]
               THEN 1::BIGINT << CAST(b AS INT) ELSE 0 END)) AS BIGINT)
             AS h_hi,
           CAST(list_sum(list_transform(generate_series(32, 63), b ->
             CASE WHEN p[(b//8)*16 + s[CAST(b%8+2 AS INT)] + 1]
                     > p[(b//8)*16 + s[CAST(b%8+1 AS INT)] + 1]
               THEN 1::BIGINT << CAST(b - 32 AS INT) ELSE 0 END)) AS BIGINT)
             AS h_lo
           FROM px, sxl),
         kfw AS (SELECT doc_id, f, h_hi, h_lo,
           lag(h_hi) OVER (PARTITION BY doc_id ORDER BY f) AS phi,
           lag(h_lo) OVER (PARTITION BY doc_id ORDER BY f) AS plo
           FROM hs0),
         hs AS (SELECT doc_id * 4 + f AS media_id, h_hi, h_lo FROM kfw
           WHERE phi IS NULL OR
             bit_count(xor(h_hi, phi)) + bit_count(xor(h_lo, plo)) > 3),
         banded0 AS (
           SELECT media_id, 0 AS band, h_hi & 65535 AS key FROM hs
           UNION ALL SELECT media_id, 1, h_hi >> 16 FROM hs
           UNION ALL SELECT media_id, 2, h_lo & 65535 FROM hs
           UNION ALL SELECT media_id, 3, h_lo >> 16 FROM hs),
         ok AS (SELECT band, key FROM banded0 GROUP BY band, key
           HAVING count(*) <= 64),
         banded AS (SELECT banded0.* FROM banded0 JOIN ok
           ON banded0.band = ok.band AND banded0.key = ok.key),
         cand AS (SELECT DISTINCT l.media_id AS media_a,
             r.media_id AS media_b
           FROM banded l JOIN banded r ON l.band = r.band
             AND l.key = r.key AND l.media_id < r.media_id),
         ham AS (SELECT media_a, media_b,
           CAST(bit_count(xor(a.h_hi, b.h_hi))
             + bit_count(xor(a.h_lo, b.h_lo)) AS INT) AS hamming
           FROM cand JOIN hs a ON cand.media_a = a.media_id
             JOIN hs b ON cand.media_b = b.media_id)
         SELECT media_a, media_b, hamming FROM ham WHERE hamming <= 3
         ORDER BY media_a, media_b""",
    "q117_gif_frames" ->
      """WITH px AS (SELECT doc_id, f,
           list_transform(generate_series(1, 128),
             i -> unicode(substr(rpad(text, 512, ' '), f * 128 + i, 1)))
             AS p
           FROM documents, (VALUES (0), (2)) v(f))
         SELECT doc_id AS media_id, f AS frame_idx, 16 AS width,
           8 AS height,
           CAST(CAST(list_sum(p) AS BIGINT) * 1000 // 128 AS BIGINT)
             AS mean_permille,
           CAST(list_min(p) AS INT) AS min_px,
           CAST(list_max(p) AS INT) AS max_px
         FROM px ORDER BY media_id, frame_idx""",
    // MP3 frame layer: the oracle recomputes every header-declared
    // value from the synthesis parameters (doc_id arithmetic) — frame
    // count, tabulated rates, exact frame-length bytes, 1152-sample
    // integer duration
    "q118_mp3_meta" ->
      """SELECT doc_id AS media_id,
         CAST(3 + doc_id % 4 AS INT) AS n_frames,
         CAST(list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
           CAST(1 + doc_id % 14 AS INT)) AS INT) AS bitrate_kbps,
         CAST(list_extract([44100,48000,32000],
           CAST(1 + doc_id % 3 AS INT)) AS INT) AS sample_rate,
         CAST((3 + doc_id % 4) *
           (144 * list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
              CAST(1 + doc_id % 14 AS INT)) * 1000
            // list_extract([44100,48000,32000], CAST(1 + doc_id % 3 AS INT)))
           AS BIGINT) AS n_bytes,
         CAST((3 + doc_id % 4) * 1152 * 1000
           // list_extract([44100,48000,32000], CAST(1 + doc_id % 3 AS INT))
           AS BIGINT) AS duration_ms
         FROM documents ORDER BY media_id""",
    // H.264 NAL layer: SPS + PPS + IDR + (1 + doc_id % 3) slices with
    // doc_id-derived body sizes — the walker's counts and per-NAL byte
    // accounting must reproduce them exactly
    "q119_h264_nals" ->
      """SELECT doc_id AS media_id,
         CAST(4 + doc_id % 3 AS INT) AS n_nals,
         TRUE AS has_sps, TRUE AS has_pps,
         1 AS n_idr,
         CAST(2 + doc_id % 3 AS INT) AS n_slices,
         CAST(54 + doc_id % 5 + doc_id % 3 + doc_id % 25 +
           list_sum(list_transform(generate_series(0, CAST(doc_id % 3 AS INT)),
             k -> 20 + (doc_id + k) % 30)) AS BIGINT) AS payload_bytes
         FROM documents ORDER BY media_id""",
    // JPEG is lossy: dims are exact, and the Spark side can only emit
    // mean_close=TRUE by decoding the real bitstream faithfully
    "q103_jpeg_decode" ->
      """SELECT doc_id AS media_id, 16 AS width, 8 AS height,
           TRUE AS mean_close
         FROM documents ORDER BY media_id""",
    // greedy token-budget mix: deterministic md5 admission order,
    // running total per domain, admit while the budget is unmet
    "q85_token_mix" -> {
      val h = TextKit.ducksql.md5Long("CAST(doc_id AS VARCHAR)")
      s"""WITH t AS (SELECT doc_id, source,
           CAST(len(string_split(text,' ')) AS BIGINT) AS tok, $h AS hkey
           FROM documents),
         c AS (SELECT doc_id, source, tok,
           CAST(sum(tok) OVER (PARTITION BY source ORDER BY hkey, doc_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t)
         SELECT doc_id, source, tok, cum FROM c
         WHERE cum - tok < CASE WHEN source = 'src1' THEN 0
           WHEN source = 'src0' THEN 700 ELSE 500 END
         ORDER BY source, doc_id"""
    },
    // rate-form mix: per-domain admit rate in 1/10000ths from the
    // domain's total token count; stateless hash-bucket admission
    "q86_token_rate_mix" -> {
      val h = TextKit.ducksql.md5Long("CAST(doc_id AS VARCHAR)")
      s"""WITH t AS (SELECT doc_id, source,
           CAST(len(string_split(text,' ')) AS BIGINT) AS tok, $h AS hkey
           FROM documents),
         rated AS (SELECT source,
           CASE WHEN b >= total THEN 10000
             ELSE (10000 * b) // total END AS rate
           FROM (SELECT source, CAST(sum(tok) AS BIGINT) AS total,
             CASE WHEN source = 'src1' THEN 0
               WHEN source = 'src0' THEN 700 ELSE 500 END AS b
             FROM t GROUP BY source))
         SELECT t.doc_id, t.source, t.tok
         FROM t JOIN rated ON t.source = rated.source
         WHERE t.hkey % 10000 < rated.rate
         ORDER BY t.source, t.doc_id"""
    },
    "q78_substring_pairs" -> {
      val passage = (0 until 24)
        .map(i => s"'sp${i}g' || CAST(doc_id % 225 AS VARCHAR)")
        .mkString(" || ' ' || ")
      val win20 = (0 until 20).map(o => s"toks[i+$o]").mkString(" || ' ' || ")
      s"""WITH plantdocs AS (SELECT doc_id,
           CASE WHEN doc_id % 9 = 4 THEN text || ' ' || $passage
             ELSE text END AS text FROM documents),
         wsh AS (SELECT DISTINCT doc_id, ${TextKit.ducksql.md5Long("s")} AS m
           FROM (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks)-19),
               i -> $win20)) AS s
             FROM (SELECT doc_id, string_split(text,' ') AS toks
               FROM plantdocs))),
         ok AS (SELECT m FROM wsh GROUP BY m
           HAVING count(*) BETWEEN 2 AND 50),
         cand AS (SELECT wsh.* FROM wsh JOIN ok USING (m))
         SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
           count(*) AS shared_windows
         FROM cand l JOIN cand r ON l.m = r.m AND l.doc_id < r.doc_id
         GROUP BY 1, 2 ORDER BY doc_a, doc_b"""
    },
    // repeated-span excision over the q78 planted corpus: occurrence-
    // counted duplicate windows -> token-position cuts -> per-doc rebuild
    "q237_span_excision" -> {
      val passage = (0 until 24)
        .map(i => s"'sp${i}g' || CAST(doc_id % 225 AS VARCHAR)")
        .mkString(" || ' ' || ")
      val win20 = (0 until 20).map(o => s"toks[i+$o]").mkString(" || ' ' || ")
      s"""WITH plantdocs AS (SELECT doc_id,
           CASE WHEN doc_id % 9 = 4 THEN text || ' ' || $passage
             ELSE text END AS text FROM documents),
         t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM plantdocs),
         ws AS (SELECT doc_id, toks,
           unnest(generate_series(1, len(toks) - 19)) AS i FROM t),
         wh AS (SELECT doc_id, i,
           ${TextKit.ducksql.md5Long(win20)} AS m FROM ws),
         dup AS (SELECT m FROM wh GROUP BY m HAVING count(*) >= 2),
         fl AS (SELECT doc_id, i FROM wh JOIN dup USING (m)),
         rem AS (SELECT doc_id, unnest(generate_series(i, i + 19)) AS p
           FROM fl),
         tok AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS p,
           toks FROM t),
         tk AS (SELECT doc_id, p, toks[p] AS tk FROM tok),
         kept AS (SELECT tk.* FROM tk ANTI JOIN rem USING (doc_id, p)),
         agg AS (SELECT doc_id, count(*) AS n_kept,
             string_agg(tk, ' ' ORDER BY p) AS clean
           FROM kept GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(toks) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
           CAST(length(coalesce(clean, '')) AS BIGINT) AS n_chars_kept,
           md5(coalesce(clean, '')) AS clean_hash
         FROM t LEFT JOIN agg USING (doc_id) ORDER BY doc_id"""
    },
    // blocked levenshtein pairs -> recursive transitive closure (the
    // q43 CC mirror) -> min-key entity + canonical-name survival
    "q227_entity_resolution" ->
      """WITH RECURSIVE p AS (SELECT p_partkey AS key, p_name AS name,
           string_split(p_name, ' ')[1] AS block FROM part),
         ok AS (SELECT block FROM p GROUP BY block
           HAVING count(*) <= 1024),
         bl AS (SELECT p.* FROM p JOIN ok USING (block)),
         e0 AS (SELECT l.key AS a, r.key AS b FROM bl l JOIN bl r
           ON l.block = r.block AND l.key < r.key
           AND levenshtein(l.name, r.name) <= 1),
         e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
         r AS (SELECT a, b FROM e
           UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS key, least(a, min(b)) AS entity_id
           FROM r GROUP BY a),
         ent AS (SELECT p.key, p.name,
           coalesce(comp.entity_id, p.key) AS entity_id
           FROM p LEFT JOIN comp USING (key)),
         canon AS (SELECT entity_id AS ce, name AS canonical_name
           FROM ent WHERE key = entity_id)
         SELECT ent.key, ent.name, ent.entity_id,
           ent.key = ent.entity_id AS is_canonical, canon.canonical_name
         FROM ent JOIN canon ON ent.entity_id = canon.ce
         ORDER BY key""",
    // planted bench slice -> distinct 8-gram hash set -> per-corpus-doc
    // collision counts; totals are per-doc list arithmetic so zero-gram
    // (short) docs survive with n_grams = 0
    "q232_decontaminate" -> decontamSql(report = false),
    "q233_decontam_report" -> decontamSql(report = true),
    // exact-cosine argmax against the bench slice; tie-break mirrors
    // max(struct(cos, -bench_id)) as (cos DESC, bench_id ASC)
    "q242_semantic_decontam" ->
      s"""WITH $EQ_EN,
         bench AS (SELECT vec_id AS bench_id, qv AS bqv, nsq AS bnsq
           FROM en WHERE vec_id % 17 = 0),
         sc AS (SELECT c.vec_id, bench_id,
             CAST(list_sum(list_transform(generate_series(1, 64),
               i -> c.qv[i] * b.bqv[i])) AS DOUBLE)
               / (sqrt(CAST(c.nsq AS DOUBLE)) * sqrt(CAST(b.bnsq AS DOUBLE)))
               AS cos
           FROM en c, bench b WHERE c.vec_id % 17 != 0)
         SELECT vec_id, bench_id, cos AS max_cos,
           CAST(cos >= 0.30 AS INT) AS contaminated
         FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY cos DESC, bench_id) AS rr FROM sc)
         WHERE rr = 1 ORDER BY vec_id""",
    // champion = row_number 1 on (score DESC, doc_id) per pool — the
    // max(struct(score, -doc_id)) mirror; margin filter excludes the
    // champion itself (margin 0) and the near-champion band
    "q243_preference_pairs" ->
      """WITH sc AS (SELECT doc_id, lang, source,
           len(list_distinct(string_split(text, ' '))) * 1000000
             // len(string_split(text, ' ')) AS score
           FROM documents),
         champ AS (SELECT lang, source, doc_id AS chosen_id,
             score AS chosen_score
           FROM (SELECT *, row_number() OVER (PARTITION BY lang, source
               ORDER BY score DESC, doc_id) AS rr FROM sc)
           WHERE rr = 1)
         SELECT sc.lang, sc.source, chosen_id,
           sc.doc_id AS rejected_id, chosen_score,
           sc.score AS rejected_score,
           chosen_score - sc.score AS margin
         FROM sc JOIN champ ON sc.lang = champ.lang
           AND sc.source = champ.source
         WHERE chosen_score - sc.score >= 100000
         ORDER BY sc.lang, sc.source, rejected_id""",
    // q43's pair + closure chain, then per-group md5 bucket arithmetic
    "q230_leakage_safe_split" -> leakageSafeSplitSql,
    // served-from-storage twin: stored == recomputed is q195's oracle,
    // so the same SQL gates both paths
    "q231_split_from_storage" -> leakageSafeSplitSql,
    "q229_balanced_sample" -> {
      val h = TextKit.ducksql
        .md5Long("lang || ':' || CAST(doc_id AS VARCHAR)")
      s"""WITH s AS (SELECT lang, doc_id, $h AS hkey FROM documents)
         SELECT lang, doc_id, CAST(row_number() OVER (PARTITION BY lang
           ORDER BY hkey, doc_id) AS INT) AS rank
         FROM s QUALIFY rank <= 20 ORDER BY lang, rank"""
    },
    "q228_json_extract" ->
      """SELECT event_type, count(*) AS n,
           count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS n_parsed,
           CAST(sum(TRY_CAST(json_extract_string(props, '$.k')
             AS BIGINT)) AS BIGINT) AS sum_k,
           max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q226_mad_outliers" ->
      s"""WITH v AS (SELECT event_type AS g,
           ${TextKit.ducksql.quant("value")} AS v FROM events
           WHERE value IS NOT NULL),
         med AS (SELECT g, v AS med FROM (
           SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v)
             AS rn, count(*) OVER (PARTITION BY g) AS n FROM v)
           WHERE rn = (n + 1) // 2),
         dev AS (SELECT v.g, v.v, med.med, abs(v.v - med.med) AS d
           FROM v JOIN med ON v.g = med.g),
         mad AS (SELECT g, d AS mad FROM (
           SELECT g, d, row_number() OVER (PARTITION BY g ORDER BY d)
             AS rn, count(*) OVER (PARTITION BY g) AS n FROM dev)
           WHERE rn = (n + 1) // 2)
         SELECT dev.g AS event_type, dev.v AS v7, dev.med, mad.mad,
           dev.d > mad.mad * 3 AS is_outlier
         FROM dev JOIN mad ON dev.g = mad.g
         ORDER BY event_type, v7""",
    "q225_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS n_members,
           count(DISTINCT c_acctbal) AS n_sensitive,
           count(*) < 10 AS k_violation,
           count(DISTINCT c_acctbal) < 5 AS l_violation
         FROM customer GROUP BY 1, 2
         ORDER BY c_nationkey, c_mktsegment""",
    // MaxSim replayed: q75's chunk chain -> md5-derived chunk vectors
    // -> per-(query chunk, doc) max dot -> per-(query, doc) sum ->
    // top-3 by (score DESC, doc_id)
    "q223_maxsim" -> {
      val mdl = TextKit.ducksql.md5Long("h || ':' || CAST(i AS VARCHAR)")
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks,
           len(string_split(text,' ')) AS n FROM documents),
         c AS (SELECT doc_id, toks, n,
           unnest(generate_series(0, greatest(1, (n - 16 + 47) // 48) - 1))
             AS chunk_idx FROM t),
         ch AS (SELECT doc_id, chunk_idx,
           md5(array_to_string(
             toks[chunk_idx*48 + 1 : least(chunk_idx*48 + 64, n)], ' '))
             AS h
           FROM c),
         cv AS (SELECT doc_id, chunk_idx,
           list_transform(generate_series(1, 16),
             i -> $mdl % 201 - 100) AS cv
           FROM ch),
         q AS (SELECT doc_id AS query_id, chunk_idx AS q_chunk,
           cv AS qcv FROM cv WHERE doc_id < 5),
         dots AS (SELECT q.query_id, q.q_chunk, d.doc_id,
           list_sum(list_transform(generate_series(1, 16),
             i -> q.qcv[i] * d.cv[i])) AS dot
           FROM q, cv d WHERE d.doc_id != q.query_id),
         pm AS (SELECT query_id, q_chunk, doc_id, max(dot) AS ms
           FROM dots GROUP BY 1, 2, 3),
         sc AS (SELECT query_id, doc_id, CAST(sum(ms) AS BIGINT) AS score
           FROM pm GROUP BY 1, 2)
         SELECT query_id, doc_id AS neighbor_id, score,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, doc_id) AS INT) AS rank
         FROM sc QUALIFY rank <= 3 ORDER BY query_id, rank"""
    },
    // shortlist (q26's cosine chain, top-20 by cosine DESC, id) then
    // the q223 MaxSim chain restricted to shortlist pairs
    "q224_maxsim_rerank" -> {
      val mdl = TextKit.ducksql.md5Long("h || ':' || CAST(i AS VARCHAR)")
      s"""WITH $EMB_NORM,
         qq AS (SELECT vec_id AS query_id, embedding AS qe, nsq AS qnsq
           FROM e WHERE vec_id < 5),
         cscored AS (SELECT query_id, e.vec_id AS neighbor_id,
           CAST(${dotQ("qe", "e.embedding")} AS DOUBLE) /
             (sqrt(CAST(qnsq AS DOUBLE)) * sqrt(CAST(e.nsq AS DOUBLE)))
             AS cosine
           FROM qq, e WHERE e.vec_id != query_id),
         sl AS (SELECT query_id, neighbor_id AS doc_id FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS r FROM cscored)
           WHERE r <= 20),
         t AS (SELECT doc_id, string_split(text,' ') AS toks,
           len(string_split(text,' ')) AS n FROM documents),
         c AS (SELECT doc_id, toks, n,
           unnest(generate_series(0, greatest(1, (n - 16 + 47) // 48) - 1))
             AS chunk_idx FROM t),
         ch AS (SELECT doc_id, chunk_idx,
           md5(array_to_string(
             toks[chunk_idx*48 + 1 : least(chunk_idx*48 + 64, n)], ' '))
             AS h
           FROM c),
         cv AS (SELECT doc_id, chunk_idx,
           list_transform(generate_series(1, 16),
             i -> $mdl % 201 - 100) AS cv
           FROM ch),
         q AS (SELECT doc_id AS query_id, chunk_idx AS q_chunk,
           cv AS qcv FROM cv WHERE doc_id < 5),
         dots AS (SELECT q.query_id, q.q_chunk, sl.doc_id,
           list_sum(list_transform(generate_series(1, 16),
             i -> q.qcv[i] * d.cv[i])) AS dot
           FROM q JOIN sl ON q.query_id = sl.query_id
             JOIN cv d ON d.doc_id = sl.doc_id),
         pm AS (SELECT query_id, q_chunk, doc_id, max(dot) AS ms
           FROM dots GROUP BY 1, 2, 3),
         sc AS (SELECT query_id, doc_id, CAST(sum(ms) AS BIGINT) AS score
           FROM pm GROUP BY 1, 2)
         SELECT query_id, doc_id AS neighbor_id, score,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, doc_id) AS INT) AS rank
         FROM sc QUALIFY rank <= 3 ORDER BY query_id, rank"""
    },
    // q72's chain with the k-means cell prepended to the shard-local
    // order; `assigned` comes from the shared kmeans oracle chain
    "q222_semantic_pack" -> {
      val h = TextKit.ducksql.md5Long("CAST(doc_id AS VARCHAR)")
      s"""WITH ${kmeansChain(1)},
         base AS (SELECT d.doc_id, d.h % 8 AS shard,
           len(string_split(d.text,' ')) AS n_tokens, d.h AS hkey,
           coalesce(a.cell, -1) AS cell
           FROM (SELECT doc_id, text, $h AS h FROM documents) d
           LEFT JOIN assigned a ON a.vec_id = d.doc_id),
         p AS (SELECT doc_id, shard, cell, n_tokens, hkey,
           sum(n_tokens) OVER (PARTITION BY shard
             ORDER BY cell, hkey, doc_id ROWS UNBOUNDED PRECEDING) AS cum
           FROM base),
         p2 AS (SELECT doc_id, shard, cell, n_tokens, hkey,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id FROM p)
         SELECT doc_id, shard, CAST(cell AS BIGINT) AS cell, pack_id,
           row_number() OVER (PARTITION BY shard, pack_id
             ORDER BY cell, hkey, doc_id) AS pack_pos,
           n_tokens
         FROM p2 ORDER BY doc_id"""
    },
    "q72_sequence_packing" -> {
      val h = TextKit.ducksql.md5Long("CAST(doc_id AS VARCHAR)")
      s"""WITH base AS (SELECT doc_id, h % 8 AS shard,
           len(string_split(text,' ')) AS n_tokens, h AS hkey
           FROM (SELECT doc_id, text, $h AS h FROM documents)),
         p AS (SELECT doc_id, shard, n_tokens, hkey,
           sum(n_tokens) OVER (PARTITION BY shard ORDER BY hkey, doc_id
             ROWS UNBOUNDED PRECEDING) AS cum
           FROM base),
         p2 AS (SELECT doc_id, shard, n_tokens, hkey,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id FROM p)
         SELECT doc_id, shard, pack_id,
           row_number() OVER (PARTITION BY shard, pack_id
             ORDER BY hkey, doc_id) AS pack_pos,
           n_tokens
         FROM p2 ORDER BY doc_id"""
    },
    "q73_curation_pipeline" -> {
      val h = TextKit.ducksql.md5Long("CAST(doc_id AS VARCHAR)")
      s"""WITH normed AS (SELECT doc_id, lang,
           trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
           FROM documents),
         gated AS (SELECT * FROM normed
           WHERE len(string_split(norm, ' ')) >= 30),
         canon AS (SELECT arg_min(doc_id, doc_id) AS doc_id,
           arg_min(lang, doc_id) AS lang,
           arg_min(length(norm), doc_id) AS n_chars_norm
           FROM gated GROUP BY md5(norm)),
         sampled AS (SELECT * FROM canon
           WHERE $h % 100 < CASE lang WHEN 'de' THEN 50 WHEN 'en' THEN 10
             WHEN 'es' THEN 30 WHEN 'fr' THEN 30 ELSE 20 END)
         SELECT $h % 16 AS shard, count(*) AS n_docs,
           CAST(sum(n_chars_norm) AS BIGINT) AS sum_chars,
           CAST(sum($h % ${Dedup.P}) AS BIGINT) AS id_checksum
         FROM sampled GROUP BY shard ORDER BY shard"""
    },
    "q44_vocabulary" ->
      """SELECT token, tf, df FROM (
         SELECT token, CAST(sum(c) AS BIGINT) AS tf, count(*) AS df FROM (
           SELECT doc_id, token, count(*) AS c FROM (
             SELECT doc_id, unnest(string_split(text,' ')) AS token
             FROM documents)
           GROUP BY doc_id, token)
         GROUP BY token)
         ORDER BY tf DESC, token LIMIT 500""",
    "q45_stratified_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
         WHERE ${TextKit.ducksql.md5Long("CAST(doc_id AS VARCHAR)")} % 100 <
           CASE WHEN lang = 'de' THEN 50 WHEN lang = 'en' THEN 10
             WHEN lang = 'es' THEN 30 WHEN lang = 'fr' THEN 30 ELSE 20 END
         ORDER BY doc_id""",
    "q46_normalize" ->
      """SELECT doc_id, length(n) AS n_chars_norm, md5(n) AS norm_hash FROM (
         SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS n
         FROM documents) ORDER BY doc_id""",
    "q28_langid" -> {
      val langs = TextAnalysis.stopwords.keys.toSeq.sorted
      def inList(l: String) =
        TextAnalysis.stopwords(l).map(w => s"'$w'").mkString("(", ",", ")")
      val scores = langs.map(l =>
        s"len(list_filter(toks, t -> t IN ${inList(l)})) AS score_$l")
        .mkString(", ")
      val m = s"greatest(${langs.map(l => s"score_$l").mkString(",")})"
      val pick = langs.map(l => s"WHEN score_$l = $m THEN '$l'")
        .mkString(" ")
      s"""SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
         CASE WHEN $m = 0 THEN 'und' $pick END AS predicted_lang
         FROM (SELECT doc_id, $scores FROM
           (SELECT doc_id, string_split(text,' ') AS toks FROM documents))
         ORDER BY doc_id"""
    },
    "q29_quality" ->
      """SELECT doc_id, n_tokens, n_chars,
         CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_token_len,
         CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
         n_tokens < 30 AS too_short,
         (CASE WHEN n_tokens < 30 THEN 0.0 ELSE 1.0 END) *
           (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) AS quality_score
         FROM (SELECT doc_id, n_chars, len(toks) AS n_tokens,
           len(list_filter(toks, t -> t IN ('the','a','of','and','to','in',
             'le','la','et','de','un','des','el','los','y','en','una',
             'der','die','und','das','ein','mit'))) AS n_stop
           FROM (SELECT doc_id, n_chars, string_split(text,' ') AS toks
             FROM documents))
         ORDER BY doc_id""",
    "q30_token_count" ->
      """SELECT doc_id, len(string_split(text,' ')) AS ws_tokens,
         len(list_distinct(string_split(text,' '))) AS distinct_tokens,
         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
           AS bpe_ish_tokens
         FROM documents ORDER BY doc_id""",
    "q31_fingerprint" ->
      s"""WITH tok AS (SELECT doc_id, t, i FROM (SELECT doc_id,
           unnest(string_split(text,' ')) AS t,
           generate_subscripts(string_split(text,' '), 1) AS i
           FROM documents))
         SELECT doc_id,
           CAST(sum((($tokH % 1000003) *
             ([1,31,961,29791,923521,28629151,887503681,27512614111])[((i-1) % 8) + 1])
             % 2147483647)
             % 2147483647 AS BIGINT) AS fingerprint
         FROM tok GROUP BY doc_id ORDER BY doc_id""",
    "q39_skew_join" ->
      """SELECT e.event_id, e.user_id, n.n_name
         FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
         ORDER BY e.event_id""",
    "q42_range_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, p.ts_us,
           e.event_id AS error_id, e.ts_us AS start_us,
           e.ts_us + 1800000000 AS end_us
         FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
           WHERE event_type = 'purchase') p
         JOIN (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
           WHERE event_type = 'error') e
           ON p.user_id = e.user_id
           AND p.ts_us BETWEEN e.ts_us AND e.ts_us + 1800000000
         ORDER BY purchase_id, error_id""",
    "q41_asof_join" ->
      """SELECT user_id, event_id, ts_us,
           asof_event_id, asof_ts_us, asof_value FROM (
         SELECT p.user_id, p.event_id, p.ts_us,
           c.event_id AS asof_event_id, c.ts_us AS asof_ts_us,
           c.value AS asof_value,
           row_number() OVER (PARTITION BY p.event_id
             ORDER BY c.ts_us DESC, c.event_id DESC) AS rn
         FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
           WHERE event_type = 'purchase') p
         LEFT JOIN (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
           FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND c.ts_us <= p.ts_us
         ) WHERE rn = 1 ORDER BY event_id""",
    // all 4 GIF frames (q117's replay at every=1): frame f's 16x8
    // pixels are the text bytes at offset f*128, space-padded
    "q40_multimodal_frames" ->
      """WITH px AS (SELECT doc_id, f,
           list_transform(generate_series(1, 128),
             i -> unicode(substr(rpad(text, 512, ' '), f * 128 + i, 1)))
             AS p
           FROM documents, (VALUES (0), (1), (2), (3)) v(f))
         SELECT doc_id AS media_id, f AS frame_idx, 16 AS width,
           8 AS height,
           CAST(CAST(list_sum(p) AS BIGINT) * 1000 // 128 AS BIGINT)
             AS mean_permille,
           CAST(list_min(p) AS INT) AS min_px,
           CAST(list_max(p) AS INT) AS max_px
         FROM px ORDER BY media_id, frame_idx""",
    // two real codecs, one pixel truth: the PGM and PNG payloads both
    // encode the first 128 space-padded text bytes, so the decoded
    // stats replay from the text for either kind
    "q32_multimodal_meta" ->
      """WITH px AS (SELECT doc_id, list_transform(generate_series(1, 128),
           i -> unicode(substr(rpad(text, 128, ' '), i, 1))) AS p
           FROM documents)
         SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'img/pgm' ELSE 'img/png' END
             AS kind,
           16 AS width, 8 AS height,
           CAST(CAST(list_sum(p) AS BIGINT) * 1000 // 128 AS BIGINT)
             AS mean_permille,
           CAST(list_min(p) AS INT) AS min_px,
           CAST(list_max(p) AS INT) AS max_px
         FROM px ORDER BY media_id""",
    "q149_zorder_values" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey % 256 AS x,
         l_suppkey % 256 AS y,
         CAST(${Layout.zValueSql("l_partkey % 256", "l_suppkey % 256", 8)}
           AS BIGINT) AS z
         FROM lineitem ORDER BY z, l_orderkey, l_linenumber""",
    "q150_zorder_scan" ->
      """WITH b AS (SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
           min(l_suppkey) AS smin, max(l_suppkey) AS smax FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem, b
         WHERE l_partkey BETWEEN pmin + (pmax - pmin) // 4
             AND pmin + (pmax - pmin) // 2
           AND l_suppkey BETWEEN smin + (smax - smin) // 4
             AND smin + (smax - smin) // 2
         ORDER BY l_orderkey, l_linenumber""",
    "q151_cdc_upsert" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice,
           o_orderpriority FROM orders WHERE o_orderkey % 13 != 0),
         u AS (SELECT o_orderkey, 1 AS v, 'U' AS op, o_custkey,
           o_totalprice * 2 AS o_totalprice, 'X-CDC' AS o_orderpriority
           FROM orders WHERE o_orderkey % 5 = 0),
         dl AS (SELECT o_orderkey, 2 AS v, 'D' AS op,
           CAST(NULL AS BIGINT) AS o_custkey,
           CAST(NULL AS DOUBLE) AS o_totalprice,
           CAST(NULL AS VARCHAR) AS o_orderpriority
           FROM orders WHERE o_orderkey % 7 = 0),
         c AS (SELECT * FROM u UNION ALL SELECT * FROM dl),
         latest AS (SELECT * FROM (SELECT c.*, row_number()
             OVER (PARTITION BY o_orderkey ORDER BY v DESC) AS rn FROM c)
           WHERE rn = 1)
         SELECT COALESCE(t.o_orderkey, l.o_orderkey) AS o_orderkey,
           CASE WHEN l.op = 'U' THEN l.o_custkey ELSE t.o_custkey END
             AS o_custkey,
           CASE WHEN l.op = 'U' THEN l.o_totalprice ELSE t.o_totalprice END
             AS o_totalprice,
           CASE WHEN l.op = 'U' THEN l.o_orderpriority
             ELSE t.o_orderpriority END AS o_orderpriority
         FROM t FULL OUTER JOIN latest l ON t.o_orderkey = l.o_orderkey
         WHERE l.op IS NULL OR l.op = 'U'
         ORDER BY o_orderkey""",
    "q152_snapshot_diff" ->
      """WITH a AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
           WHERE o_orderkey % 13 != 0),
         b AS (SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
             ELSE o_totalprice END AS o_totalprice
           FROM orders WHERE o_orderkey % 11 != 0)
         SELECT * FROM (
           SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
             CASE WHEN a.o_orderkey IS NULL THEN 'insert'
               WHEN b.o_orderkey IS NULL THEN 'delete'
               WHEN a.o_custkey != b.o_custkey
                 OR a.o_totalprice != b.o_totalprice THEN 'update' END
               AS change_type,
             a.o_custkey AS old_custkey, a.o_totalprice AS old_price,
             b.o_custkey AS new_custkey, b.o_totalprice AS new_price
           FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
         WHERE change_type IS NOT NULL ORDER BY o_orderkey""",
    "q153_scd2" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           event_type FROM events),
         c AS (SELECT user_id, ts_us, event_id, event_type FROM (
           SELECT user_id, ts_us, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) AS prev FROM e)
           WHERE prev IS NULL OR prev != event_type)
         SELECT user_id, event_type, valid_from, valid_to,
           valid_to IS NULL AS is_current FROM (
           SELECT user_id, event_type, ts_us AS valid_from,
             lead(ts_us) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) AS valid_to FROM c)
         ORDER BY user_id, valid_from""",
    "q154_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type
           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
         u AS (SELECT DISTINCT user_id FROM e),
         s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e
           JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND ts_us > t1 GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM e
           JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY e.user_id)
         SELECT u.user_id,
           CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
             WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage, t1, t2, t3
         FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
         LEFT JOIN s3 USING (user_id) ORDER BY u.user_id""",
    "q155_retrieval_eval" ->
      s"""WITH $EMB_NORM,
         q AS (SELECT vec_id AS query_id, embedding AS qe, nsq AS qnsq
           FROM e WHERE vec_id < 10),
         bs AS (SELECT query_id, e.vec_id AS neighbor_id,
           CAST(${dotQ("qe", "e.embedding")} AS DOUBLE) /
             (sqrt(CAST(qnsq AS DOUBLE)) * sqrt(CAST(e.nsq AS DOUBLE)))
             AS cosine
           FROM q, e WHERE e.vec_id != query_id),
         truth AS (SELECT query_id, neighbor_id FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS rank FROM bs)
           WHERE rank <= 5),
         eb AS (SELECT vec_id, embedding,
           ${dotQ("embedding", "embedding")} AS nsq,
           list_sum(list_transform(generate_series(1, 6), d ->
             CASE WHEN embedding[d] >= 0 THEN (1::BIGINT << (d - 1))
               ELSE 0 END)) AS bucket
           FROM embeddings),
         qb AS (SELECT vec_id AS query_id, embedding AS lqe, nsq AS lqnsq,
           bucket FROM eb WHERE vec_id < 10),
         ls AS (SELECT query_id, eb.vec_id AS neighbor_id,
           CAST(${dotQ("lqe", "eb.embedding")} AS DOUBLE) /
             (sqrt(CAST(lqnsq AS DOUBLE)) * sqrt(CAST(eb.nsq AS DOUBLE)))
             AS cosine
           FROM qb JOIN eb ON qb.bucket = eb.bucket
           WHERE eb.vec_id != qb.query_id),
         res AS (SELECT query_id, neighbor_id, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS rank FROM ls)
           WHERE rank <= 3),
         j AS (SELECT t.query_id, t.neighbor_id, r.rank AS r_rank
           FROM truth t LEFT JOIN res r ON t.query_id = r.query_id
             AND t.neighbor_id = r.neighbor_id)
         SELECT query_id, count(*) AS n_truth, count(r_rank) AS n_hit,
           CAST(count(r_rank) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS recall,
           min(r_rank) AS first_hit_rank,
           COALESCE(CAST(1 AS DOUBLE) / CAST(min(r_rank) AS DOUBLE),
             CAST(0 AS DOUBLE)) AS mrr
         FROM j GROUP BY query_id ORDER BY query_id""",
    "q157_winnowing" ->
      s"""WITH tok AS (SELECT doc_id, t, i FROM (SELECT doc_id,
           unnest(string_split(text,' ')) AS t,
           generate_subscripts(string_split(text,' '), 1) AS i
           FROM documents)),
         h AS (SELECT doc_id, i AS pos, ($tokH) % 1073741824 AS hh
           FROM tok),
         k AS (SELECT doc_id, pos,
           count(*) OVER (PARTITION BY doc_id) AS n,
           min(hh * 1048576 + (1048575 - pos)) OVER (PARTITION BY doc_id
             ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
             AS selkey
           FROM h)
         SELECT DISTINCT doc_id, selkey // 1048576 AS sel_hash,
           1048575 - (selkey % 1048576) AS sel_pos
         FROM k WHERE pos <= n - 3 ORDER BY doc_id, sel_pos""",
    "q159_hard_negatives" ->
      s"""WITH $EMB_NORM,
         q AS (SELECT vec_id AS query_id, embedding AS qe, nsq AS qnsq
           FROM e WHERE vec_id < 10),
         bs AS (SELECT query_id, e.vec_id AS neighbor_id,
           CAST(${dotQ("qe", "e.embedding")} AS DOUBLE) /
             (sqrt(CAST(qnsq AS DOUBLE)) * sqrt(CAST(e.nsq AS DOUBLE)))
             AS cosine
           FROM q, e WHERE e.vec_id != query_id),
         truth AS (SELECT query_id, neighbor_id FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS rank FROM bs)
           WHERE rank <= 2),
         eb AS (SELECT vec_id, embedding,
           ${dotQ("embedding", "embedding")} AS nsq,
           list_sum(list_transform(generate_series(1, 6), d ->
             CASE WHEN embedding[d] >= 0 THEN (1::BIGINT << (d - 1))
               ELSE 0 END)) AS bucket
           FROM embeddings),
         qb AS (SELECT vec_id AS query_id, embedding AS lqe, nsq AS lqnsq,
           bucket FROM eb WHERE vec_id < 10),
         ls AS (SELECT query_id, eb.vec_id AS neighbor_id,
           CAST(${dotQ("lqe", "eb.embedding")} AS DOUBLE) /
             (sqrt(CAST(lqnsq AS DOUBLE)) * sqrt(CAST(eb.nsq AS DOUBLE)))
             AS cosine
           FROM qb JOIN eb ON qb.bucket = eb.bucket
           WHERE eb.vec_id != qb.query_id),
         res AS (SELECT query_id, neighbor_id, cosine, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS rank FROM ls)
           WHERE rank <= 5)
         SELECT r.query_id, r.neighbor_id, r.cosine, r.rank FROM res r
         ANTI JOIN truth t ON r.query_id = t.query_id
           AND r.neighbor_id = t.neighbor_id
         ORDER BY r.query_id, r.rank""",
    "q160_winnow_containment" ->
      s"""WITH fc AS (${winnowFpsSql("doc_id % 10 != 0")}),
         fb AS (${winnowFpsSql("doc_id % 10 = 0")}),
         ok AS (SELECT sel_hash FROM fc GROUP BY sel_hash
           HAVING count(*) <= 64)
         SELECT fc.doc_id AS doc_a, fb.doc_id AS doc_b,
           count(*) AS n_shared
         FROM fc JOIN ok ON fc.sel_hash = ok.sel_hash
         JOIN fb ON fc.sel_hash = fb.sel_hash
         GROUP BY 1, 2 ORDER BY doc_a, doc_b""",
    "q161_cohort_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week,
           event_type FROM events),
         cohorts AS (SELECT user_id, min(week) AS cohort_week FROM e
           WHERE event_type = 'signup' GROUP BY user_id),
         act AS (SELECT DISTINCT user_id, week FROM e)
         SELECT cohort_week, week - cohort_week AS week_k,
           count(DISTINCT act.user_id) AS n_users
         FROM act JOIN cohorts ON act.user_id = cohorts.user_id
         WHERE week >= cohort_week
         GROUP BY 1, 2 ORDER BY cohort_week, week_k""",
    "q162_bitmap_segments" ->
      """WITH words AS (SELECT event_type AS seg, user_id // 62 AS w,
           bit_or(1::BIGINT << CAST(user_id % 62 AS INT)) AS bits
           FROM events GROUP BY 1, 2)
         SELECT a.seg AS seg_a, b.seg AS seg_b,
           CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS n_common
         FROM words a JOIN words b ON a.w = b.w AND a.seg < b.seg
         GROUP BY 1, 2 ORDER BY seg_a, seg_b""",
    "q163_fuzzy_match" ->
      """WITH p AS (SELECT p_partkey AS key, p_name AS name,
           split_part(p_name, ' ', 1) AS block FROM part),
         l AS (SELECT * FROM p WHERE key % 2 = 0),
         r AS (SELECT * FROM p WHERE key % 2 = 1),
         ok AS (SELECT block FROM r GROUP BY block
           HAVING count(*) <= 1024),
         cand AS (SELECT l.key AS left_key, r.key AS cand_key,
           levenshtein(l.name, r.name) AS dist
           FROM l JOIN ok ON l.block = ok.block
           JOIN r ON l.block = r.block
           WHERE levenshtein(l.name, r.name) <= 1)
         SELECT left_key, cand_key AS match_key, dist FROM (
           SELECT *, row_number() OVER (PARTITION BY left_key
             ORDER BY dist, cand_key) AS rn FROM cand)
         WHERE rn = 1 ORDER BY left_key""",
    // same relation as q150 — the manifest-pruned path must agree with
    // the straight box filter
    "q164_manifest_pruned_scan" ->
      """WITH b AS (SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
           min(l_suppkey) AS smin, max(l_suppkey) AS smax FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem, b
         WHERE l_partkey BETWEEN pmin + (pmax - pmin) // 4
             AND pmin + (pmax - pmin) // 2
           AND l_suppkey BETWEEN smin + (smax - smin) // 4
             AND smin + (smax - smin) // 2
         ORDER BY l_orderkey, l_linenumber""",
    "q165_targeted_delete" ->
      """WITH b AS (SELECT min(l_orderkey) AS klo, max(l_orderkey) AS khi
           FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem, b
         WHERE l_orderkey NOT BETWEEN klo + (khi - klo) // 4
           AND klo + (khi - klo) // 2
         ORDER BY l_orderkey, l_linenumber""",
    "q166_time_travel" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    // per-column two-sided profile over the q165 delete boundary
    "q247_profile_diff" -> {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey")
      def prof(src: String) =
        s"""SELECT CAST(count(*) AS BIGINT) AS n, ${cols.map(c =>
          s"CAST(count(*) - count($c) AS BIGINT) AS nulls_$c, " +
            s"min($c) AS min_$c, max($c) AS max_$c, " +
            s"CAST(count(DISTINCT $c) AS BIGINT) AS nd_$c").mkString(", ")}
         FROM $src"""
      val rows = cols.map(c =>
        s"""SELECT '$c' AS "column", pb.n AS n_before, pa.n AS n_after,
           pb.nulls_$c AS nulls_before, pa.nulls_$c AS nulls_after,
           pb.min_$c AS min_before, pa.min_$c AS min_after,
           pb.max_$c AS max_before, pa.max_$c AS max_after,
           pb.nd_$c AS distinct_before, pa.nd_$c AS distinct_after,
           pa.n - pb.n AS n_delta,
           pa.nd_$c - pb.nd_$c AS distinct_delta
         FROM pb, pa""").mkString(" UNION ALL ")
      s"""WITH b AS (SELECT min(l_orderkey) AS klo, max(l_orderkey) AS khi
           FROM lineitem),
         aft AS (SELECT l.* FROM lineitem l, b
           WHERE l_orderkey NOT BETWEEN klo + (khi - klo) // 4
             AND klo + (khi - klo) // 2),
         pb AS (${prof("lineitem")}),
         pa AS (${prof("aft")})
         SELECT * FROM ($rows) ORDER BY "column""""
    },
    // q241 shares q164's logical content: the FileIndex scan must equal
    // the explicit-ranges manifest read it replaces
    "q241_fileindex_scan" ->
      """WITH b AS (SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
           min(l_suppkey) AS smin, max(l_suppkey) AS smax FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem, b
         WHERE l_partkey BETWEEN pmin + (pmax - pmin) // 4
             AND pmin + (pmax - pmin) // 2
           AND l_suppkey BETWEEN smin + (smax - smin) // 4
             AND smin + (smax - smin) // 2
         ORDER BY l_orderkey, l_linenumber""",
    // q238/q239 share one oracle: the dv-read and its copy-on-write
    // conversion must BOTH equal the logical double anti-range
    "q238_dv_read" ->
      """WITH b AS (SELECT min(l_orderkey) AS klo, max(l_orderkey) AS khi
           FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem, b
         WHERE l_orderkey NOT BETWEEN klo + (khi - klo) // 4
             AND klo + (khi - klo) // 2
           AND l_orderkey NOT BETWEEN klo + 3 * (khi - klo) // 5
             AND klo + 7 * (khi - klo) // 10
         ORDER BY l_orderkey, l_linenumber""",
    // the mid version's logical state: first dv delete applied, second
    // not yet — exactly one range gone
    "q259_time_travel_dv" ->
      """WITH b AS (SELECT min(l_orderkey) AS klo, max(l_orderkey) AS khi
           FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem, b
         WHERE l_orderkey NOT BETWEEN klo + (khi - klo) // 4
             AND klo + (khi - klo) // 2
         ORDER BY l_orderkey, l_linenumber""",
    // post-sidecar-compaction the logical relation is unchanged:
    // q238's double anti-range verbatim
    "q265_dv_sidecar_compact" ->
      """WITH b AS (SELECT min(l_orderkey) AS klo, max(l_orderkey) AS khi
           FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem, b
         WHERE l_orderkey NOT BETWEEN klo + (khi - klo) // 4
             AND klo + (khi - klo) // 2
           AND l_orderkey NOT BETWEEN klo + 3 * (khi - klo) // 5
             AND klo + 7 * (khi - klo) // 10
         ORDER BY l_orderkey, l_linenumber""",
    "q239_dv_rewrite" ->
      """WITH b AS (SELECT min(l_orderkey) AS klo, max(l_orderkey) AS khi
           FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem, b
         WHERE l_orderkey NOT BETWEEN klo + (khi - klo) // 4
             AND klo + (khi - klo) // 2
           AND l_orderkey NOT BETWEEN klo + 3 * (khi - klo) // 5
             AND klo + 7 * (khi - klo) // 10
         ORDER BY l_orderkey, l_linenumber""",
    "q240_dv_feed" ->
      """WITH b AS (SELECT min(l_orderkey) AS klo, max(l_orderkey) AS khi
           FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem, b
         WHERE l_orderkey BETWEEN klo + (khi - klo) // 4
             AND klo + (khi - klo) // 2
           OR l_orderkey BETWEEN klo + 3 * (khi - klo) // 5
             AND klo + 7 * (khi - klo) // 10
         ORDER BY l_orderkey, l_linenumber""",
    // the compacted merge-on-read table == the logical post-delete
    // relation (single DV-deleted quarter; plain read after compaction)
    "q248_dv_compact" ->
      """WITH b AS (SELECT min(l_orderkey) AS klo, max(l_orderkey) AS khi
           FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem, b
         WHERE l_orderkey NOT BETWEEN klo + (khi - klo) // 4
             AND klo + (khi - klo) // 2
         ORDER BY l_orderkey, l_linenumber""",
    // pruned window ([klo, 3/8]) minus the DV-deleted quarter
    "q249_dv_pruned_read" ->
      """WITH b AS (SELECT min(l_orderkey) AS klo, max(l_orderkey) AS khi
           FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem, b
         WHERE l_orderkey BETWEEN klo AND klo + 3 * (khi - klo) // 8
           AND l_orderkey NOT BETWEEN klo + (khi - klo) // 4
             AND klo + (khi - klo) // 2
         ORDER BY l_orderkey, l_linenumber""",
    // identical logical content through the Catalyst FileIndex path
    "q251_dv_fileindex" ->
      """WITH b AS (SELECT min(l_orderkey) AS klo, max(l_orderkey) AS khi
           FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem, b
         WHERE l_orderkey BETWEEN klo AND klo + 3 * (khi - klo) // 8
           AND l_orderkey NOT BETWEEN klo + (khi - klo) // 4
             AND klo + (khi - klo) // 2
         ORDER BY l_orderkey, l_linenumber""",
    // post-merge table: MATCHED keys (slice keys that HAVE a line-1 row
    // — the synthetic lineitem's linenumbers are uniform per row, so
    // not every key does) lose all their versions and gain the doubled
    // line-1 replacement; unmatched rows survive; tripled inserts land
    // at key + span
    "q252_upsert_read" ->
      """WITH b AS (SELECT min(l_orderkey) AS klo, max(l_orderkey) AS khi
           FROM lineitem),
         s AS (SELECT klo + (khi - klo) // 3 AS ulo,
             klo + (khi - klo) // 3 + (khi - klo) // 16 AS uhi,
             khi - klo + 1000000 AS span FROM b),
         uk AS (SELECT DISTINCT l_orderkey FROM lineitem, s
           WHERE l_orderkey BETWEEN ulo AND uhi AND l_linenumber = 1)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem
         WHERE l_orderkey NOT IN (SELECT l_orderkey FROM uk)
         UNION ALL
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           l_quantity * 2 AS l_quantity
         FROM lineitem, s
         WHERE l_orderkey BETWEEN ulo AND uhi AND l_linenumber = 1
         UNION ALL
         SELECT l_orderkey + span AS l_orderkey, l_linenumber, l_partkey,
           l_suppkey, l_quantity * 3 AS l_quantity
         FROM lineitem, s
         WHERE l_orderkey BETWEEN ulo AND uhi AND l_linenumber = 1
         ORDER BY l_orderkey, l_linenumber""",
    // the replica == the partitioned source head: day=1 rows + the
    // doubled-price inserts, day=2 rows minus the boxed delete
    "q257_replicate_table" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice,
             o_orderkey % 2 + 1 AS day FROM orders),
         b AS (SELECT min(o_orderkey) AS klo, max(o_orderkey) AS khi
           FROM orders)
         SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(day AS BIGINT) AS day
         FROM o, b
         WHERE day = 1 OR o_orderkey NOT BETWEEN klo + (khi - klo) // 4
           AND klo + (khi - klo) // 2
         UNION ALL
         SELECT o_orderkey + khi - klo + 1000000 AS o_orderkey, o_custkey,
           o_totalprice * 2 AS o_totalprice, CAST(1 AS BIGINT) AS day
         FROM o, b WHERE day = 1 AND o_orderkey % 5 = 0
         ORDER BY o_orderkey, day""",
    // the evolved lake's head: untouched keys NULL the new column,
    // the replaced slice carries doubled custkeys + o_totalprice, the
    // shifted fresh keys carry it verbatim
    "q258_schema_evolution" ->
      """WITH b AS (SELECT min(o_orderkey) AS klo, max(o_orderkey) AS khi
           FROM orders),
         s AS (SELECT klo + (khi - klo) // 4 AS ulo,
             klo + (khi - klo) // 2 AS uhi,
             khi - klo + 1000000 AS span FROM b)
         SELECT o_orderkey, o_custkey,
           CAST(NULL AS DOUBLE) AS o_totalprice
         FROM orders, s WHERE o_orderkey NOT BETWEEN ulo AND uhi
         UNION ALL
         SELECT o_orderkey, o_custkey * 2 AS o_custkey, o_totalprice
         FROM orders, s WHERE o_orderkey BETWEEN ulo AND uhi
         UNION ALL
         SELECT o_orderkey + span AS o_orderkey, o_custkey, o_totalprice
         FROM orders, s WHERE o_orderkey BETWEEN ulo AND uhi
         ORDER BY o_orderkey""",
    // the multi-leaf evolved table: every pre-evolution row (both day
    // leaves) NULLs the new column; the day=1 post-evolution batch
    // (keys % 5 = 0, shifted) carries it verbatim
    "q261_evolved_table" ->
      """WITH b AS (SELECT min(o_orderkey) AS klo, max(o_orderkey) AS khi
           FROM orders)
         SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice,
           o_orderkey % 2 + 1 AS day
         FROM orders
         UNION ALL
         SELECT o_orderkey + khi - klo + 1000000 AS o_orderkey, o_custkey,
           o_totalprice, CAST(1 AS BIGINT) AS day
         FROM orders, b WHERE o_orderkey % 5 = 0
         ORDER BY o_orderkey, day""",
    // time travel to the pre-delete version: the full orders projection
    "q269_sql_time_travel" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_orderkey""",
    // the streamed-in table: the whole orders projection (the bootstrap
    // feed replays the loaded snapshot as inserts, epochs land atomically)
    "q270_sql_stream_sink" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_orderkey""",
    // the streamed-out table: snapshot batch == the batch read
    "q271_sql_stream_read" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_orderkey""",
    // the SQL-deleted table: orders minus the box range (the DV
    // sidecar's positions subtracted by the merge-on-read SQL scan)
    "q268_sql_delete" ->
      """WITH b AS (SELECT min(o_orderkey) AS klo, max(o_orderkey) AS khi
           FROM orders),
         s AS (SELECT klo + (khi - klo) // 4 AS dlo,
             klo + (khi - klo) // 2 AS dhi FROM b)
         SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders, s WHERE o_orderkey < dlo OR o_orderkey > dhi
         ORDER BY o_orderkey""",
    // the partitioned keyed table after the box price bump, the
    // day=4 move of the low slice, and the even-key delete in day=4
    "q278_sql_part_update" ->
      """WITH b AS (SELECT min(o_orderkey) AS klo, max(o_orderkey) AS khi
           FROM orders),
         st AS (
           SELECT o_orderkey AS k, o_custkey AS c,
             CASE WHEN o_orderkey >= b.klo + (b.khi - b.klo) // 4
                   AND o_orderkey <= b.klo + (b.khi - b.klo) // 2
               THEN o_totalprice + 1000 ELSE o_totalprice END AS p,
             CASE WHEN o_orderkey <= b.klo + (b.khi - b.klo) // 8
               THEN 4 ELSE CAST(o_orderkey % 3 + 1 AS INTEGER) END AS day
           FROM orders, b)
         SELECT k AS o_orderkey, c AS o_custkey, p AS o_totalprice,
           CAST(day AS INTEGER) AS day
         FROM st WHERE NOT (day = 4 AND k % 2 = 0)
         ORDER BY o_orderkey""",
    // the partition-fanned stream sink landed exactly the source
    // projection, day derived from the key
    "q277_sql_part_stream_sink" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(o_orderkey % 3 + 1 AS INTEGER) AS day
         FROM orders ORDER BY o_orderkey""",
    // dynamic overwrite: day 1/2 leaves hold exactly the overwrite
    // projection (price * 3, every third key), day 3/4 the original
    // load — recomputed relationally over base orders
    "q279_sql_dyn_overwrite" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(o_orderkey % 4 + 1 AS INTEGER) AS day FROM orders)
         SELECT o_orderkey, o_custkey, o_totalprice, day FROM base
           WHERE day >= 3
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice * 3 AS o_totalprice,
           day
         FROM base WHERE day <= 2 AND o_orderkey % 3 = 0
         ORDER BY o_orderkey""",
    // the keyless table minus the three predicate-deleted slices —
    // the same predicates re-applied relationally (no NULLs in play,
    // so the NOT-conjunction is exact)
    "q280_sql_keyless_delete" ->
      """WITH b AS (SELECT min(o_orderkey) AS klo FROM orders),
         t AS (SELECT o_orderkey, o_custkey, o_totalprice,
           concat('t', CAST(o_orderkey % 7 AS VARCHAR)) AS tag
           FROM orders)
         SELECT o_orderkey, o_custkey, o_totalprice, tag FROM t, b
         WHERE NOT (tag = 't3')
           AND NOT (tag IN ('t1', 't5') OR o_orderkey = b.klo)
           AND NOT (tag LIKE 't6%' AND o_totalprice >= 1000.0)
         ORDER BY o_orderkey""",
    // the pre-delete snapshot == the full load == base orders
    "q282_sql_time_travel_ts" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders ORDER BY o_orderkey""",
    // the pinned partitioned read == wave 1 only (evens), whole —
    // no day-9 leaf, no post-ts delete
    "q285_sql_part_time_travel" ->
      """SELECT o_orderkey, o_totalprice,
           CAST(o_orderkey % 3 + 1 AS INT) AS day
         FROM orders WHERE o_orderkey % 2 = 0 ORDER BY o_orderkey""",
    // the partitioned table's leaves == the distinct day values
    "q287_sql_show_partitions" ->
      """SELECT DISTINCT 'day=' || CAST(o_orderkey % 4 + 1 AS VARCHAR)
           AS "partition"
         FROM orders ORDER BY "partition"""",
    // wave 1 (evens) reads its CREATE-time and ADD-time defaults,
    // wave 2 (odds) its explicit values, minus the DV-deleted range
    "q288_sql_column_defaults" ->
      """WITH b AS (SELECT min(o_orderkey) AS klo, max(o_orderkey) AS khi
           FROM orders),
         s AS (SELECT klo + (khi - klo) // 4 AS dlo,
             klo + (khi - klo) // 2 AS dhi FROM b)
         SELECT o_orderkey,
           CASE WHEN o_orderkey % 2 = 0 THEN CAST(-1 AS BIGINT)
                ELSE o_custkey END AS o_custkey,
           CASE WHEN o_orderkey % 2 = 0 THEN 'none'
                ELSE 'real' END AS tag,
           CASE WHEN o_orderkey % 2 = 0 THEN CAST(7 AS BIGINT)
                ELSE CAST(1 AS BIGINT) END AS bonus
         FROM orders, s WHERE o_orderkey < dlo OR o_orderkey > dhi
         ORDER BY o_orderkey""",
    // post-rename: both waves under the new logical name, minus the
    // DV-deleted box range (cust >= 0 always true — it exists to push
    // a filter on the renamed column)
    "q286_sql_rename_column" ->
      """WITH b AS (SELECT min(o_orderkey) AS klo, max(o_orderkey) AS khi
           FROM orders),
         s AS (SELECT klo + (khi - klo) // 4 AS dlo,
             klo + (khi - klo) // 2 AS dhi FROM b)
         SELECT o_orderkey, o_custkey AS cust, o_totalprice
         FROM orders, s
         WHERE (o_orderkey < dlo OR o_orderkey > dhi) AND o_custkey >= 0
         ORDER BY o_orderkey""",
    // post-drop: both insert waves' surviving columns, minus the box
    // range the DV delete subtracted
    "q283_sql_drop_column" ->
      """WITH b AS (SELECT min(o_orderkey) AS klo, max(o_orderkey) AS khi
           FROM orders),
         s AS (SELECT klo + (khi - klo) // 4 AS dlo,
             klo + (khi - klo) // 2 AS dhi FROM b)
         SELECT o_orderkey, o_totalprice
         FROM orders, s WHERE o_orderkey < dlo OR o_orderkey > dhi
         ORDER BY o_orderkey""",
    // post-widen: wave 1 round-tripped through INT/FLOAT (the float
    // promotion is exact IEEE widening, recomputed here), wave 2
    // native-wide, minus the DV-deleted box range
    "q284_sql_widen_column" ->
      """WITH b AS (SELECT min(o_orderkey) AS klo, max(o_orderkey) AS khi
           FROM orders),
         s AS (SELECT klo + (khi - klo) // 4 AS dlo,
             klo + (khi - klo) // 2 AS dhi FROM b)
         SELECT o_orderkey,
           CAST(o_custkey AS DOUBLE) AS o_custkey,
           CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS o_totalprice
         FROM orders, s WHERE o_orderkey < dlo OR o_orderkey > dhi
         ORDER BY o_orderkey""",
    // the CTAS table holds exactly the SELECT it was created from
    "q281_sql_ctas" ->
      """SELECT o_orderkey, o_custkey, o_totalprice * 0.5 AS half_price
         FROM orders WHERE o_orderkey % 2 = 0
         ORDER BY o_orderkey""",
    // the overwritten table holds exactly the overwrite projection —
    // the earlier load and DV delete are gone with their files
    "q276_sql_insert_overwrite" ->
      """SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
         FROM orders WHERE o_orderkey % 5 = 0
         ORDER BY o_orderkey""",
    // the stream-sunk embeddings table equals the base embeddings
    // projection (dimension + first element + label per vector)
    "q275_sql_array_sink" ->
      """SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
           CAST(embedding[1] AS DOUBLE) AS e0, label
         FROM embeddings ORDER BY vec_id""",
    // the partitioned catalog table holds the orders projection with
    // day = o_orderkey % 4 + 1 (two per-leaf insert rounds); day = 2
    // selects exactly the o_orderkey % 4 = 1 rows
    "q272_sql_partitioned" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(o_orderkey % 4 + 1 AS INTEGER) AS day
         FROM orders WHERE o_orderkey % 4 = 1
         ORDER BY o_orderkey""",
    "q273_sql_part_agg" ->
      """SELECT CAST(o_orderkey % 4 + 1 AS INTEGER) AS day,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
             AS sum_price
         FROM orders GROUP BY 1 ORDER BY day""",
    // the keyed table after UPDATE (box-range price bump), MERGE
    // (matched slice custkey -> -1, shifted slice inserted), and the
    // arbitrary-predicate DELETE (c = -1 AND k % 3 = 0) — the same
    // transforms computed relationally over the base orders
    "q274_sql_update_merge" ->
      """WITH b AS (SELECT min(o_orderkey) AS klo, max(o_orderkey) AS khi
           FROM orders),
         st AS (
           SELECT o_orderkey AS k,
             CASE WHEN o_orderkey <= b.klo + (b.khi - b.klo) // 8
               THEN CAST(-1 AS BIGINT) ELSE o_custkey END AS c,
             CASE WHEN o_orderkey >= b.klo + (b.khi - b.klo) // 4
                   AND o_orderkey <= b.klo + (b.khi - b.klo) // 2
               THEN o_totalprice + 1000 ELSE o_totalprice END AS p
           FROM orders, b
           UNION ALL
           SELECT o_orderkey + (b.khi - b.klo + 1000000) AS k,
             CAST(-1 AS BIGINT) AS c, CAST(0.5 AS DOUBLE) AS p
           FROM orders, b
           WHERE o_orderkey <= b.klo + (b.khi - b.klo) // 8)
         SELECT k AS o_orderkey, c AS o_custkey, p AS o_totalprice
         FROM st WHERE NOT (c = -1 AND k % 3 = 0)
         ORDER BY o_orderkey""",
    // the SQL-catalog table holds exactly the orders projection (two
    // INSERT INTO commits = the whole table); the aggregate ran through
    // the SQL surface
    "q267_sql_catalog" ->
      """SELECT o_custkey, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
           AS sum_price
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    // the upsert lake's commit history: bootstrap append, stats meta,
    // the one-commit MERGE (files + sidecars), post-merge stats meta
    "q256_table_history" ->
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), 'append', true,  CAST(0 AS BIGINT), false),
           (CAST(2 AS BIGINT), 'meta',   false, CAST(0 AS BIGINT), false),
           (CAST(3 AS BIGINT), 'upsert', true,  CAST(0 AS BIGINT), true),
           (CAST(4 AS BIGINT), 'meta',   false, CAST(0 AS BIGINT), false))
         AS t(version, kind, any_added, n_removed, any_dvs)
         ORDER BY version""",
    // the MERGE as a change feed: every old version of a MATCHED key
    // deleted, every update/insert row inserted
    "q253_upsert_feed" ->
      """WITH b AS (SELECT min(l_orderkey) AS klo, max(l_orderkey) AS khi
           FROM lineitem),
         s AS (SELECT klo + (khi - klo) // 3 AS ulo,
             klo + (khi - klo) // 3 + (khi - klo) // 16 AS uhi,
             khi - klo + 1000000 AS span FROM b),
         uk AS (SELECT DISTINCT l_orderkey FROM lineitem, s
           WHERE l_orderkey BETWEEN ulo AND uhi AND l_linenumber = 1)
         SELECT 'delete' AS change_type, l_orderkey, l_linenumber,
           l_partkey, l_suppkey, l_quantity
         FROM lineitem WHERE l_orderkey IN (SELECT l_orderkey FROM uk)
         UNION ALL
         SELECT 'insert' AS change_type, l_orderkey, l_linenumber,
           l_partkey, l_suppkey, l_quantity * 2 AS l_quantity
         FROM lineitem, s
         WHERE l_orderkey BETWEEN ulo AND uhi AND l_linenumber = 1
         UNION ALL
         SELECT 'insert' AS change_type, l_orderkey + span AS l_orderkey,
           l_linenumber, l_partkey, l_suppkey, l_quantity * 3 AS l_quantity
         FROM lineitem, s
         WHERE l_orderkey BETWEEN ulo AND uhi AND l_linenumber = 1
         ORDER BY change_type, l_orderkey, l_linenumber""",
    "q168_bloom_lookup" ->
      """WITH b AS (SELECT min(l_orderkey) AS klo, max(l_orderkey) AS khi
           FROM lineitem),
         v AS (SELECT min(l_orderkey) AS pv FROM lineitem, b
           WHERE l_orderkey >= klo + (khi - klo) // 3)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem, v WHERE l_orderkey = pv
         ORDER BY l_orderkey, l_linenumber""",
    "q169_wap_publish" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_orderkey % 3 = 0 ORDER BY o_orderkey""",
    "q170_clustered_compaction" ->
      """WITH b AS (SELECT min(o_orderkey) AS klo, max(o_orderkey) AS khi
           FROM orders)
         SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
         WHERE o_orderkey BETWEEN klo + (khi - klo) // 4
           AND klo + (khi - klo) // 2
         ORDER BY o_orderkey""",
    "q173_hidden_partition" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id,
           event_type, value FROM events),
         b AS (SELECT min(ts_us) AS klo, max(ts_us) AS khi FROM e)
         SELECT event_id, ts_us, user_id, event_type, value
         FROM e, b
         WHERE ts_us BETWEEN klo + (khi - klo) // 4
           AND klo + (khi - klo) // 2
         ORDER BY event_id""",
    // LSH band candidates (the cand CTE of the minhash chain) scored
    // against the q22 exact truth chain — shared `sh` base, one
    // full-outer pair join, one global aggregate
    "q174_dedup_eval" ->
      s"""WITH ${SIG_BANDS("documents")},
         ok AS (SELECT band, key FROM banded0 GROUP BY band, key
           HAVING count(*) <= 64),
         banded AS (SELECT banded0.* FROM banded0 JOIN ok
           ON banded0.band = ok.band AND banded0.key = ok.key),
         cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
           FROM banded l JOIN banded r ON l.band = r.band
             AND l.key = r.key AND l.doc_id < r.doc_id),
         rare AS (SELECT m FROM (SELECT m, count(*) AS df FROM sh
           GROUP BY m) WHERE df <= 20 AND df >= 2),
         candsh AS (SELECT sh.doc_id, sh.m FROM sh JOIN rare
           ON sh.m = rare.m),
         tcand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
           FROM candsh l JOIN candsh r ON l.m = r.m
             AND l.doc_id < r.doc_id),
         tsizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         tinter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
           FROM tcand c JOIN sh a ON a.doc_id = c.doc_a
           JOIN sh b ON b.doc_id = c.doc_b AND a.m = b.m GROUP BY 1, 2),
         tpairs AS (SELECT i.doc_a, i.doc_b FROM tinter i
           JOIN tsizes na ON i.doc_a = na.doc_id
           JOIN tsizes nb ON i.doc_b = nb.doc_id
           WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= 0.5),
         j AS (SELECT COALESCE(t.doc_a, c.doc_a) AS doc_a,
           COALESCE(t.doc_b, c.doc_b) AS doc_b,
           CASE WHEN t.doc_a IS NOT NULL THEN 1 END AS t,
           CASE WHEN c.doc_a IS NOT NULL THEN 1 END AS r
           FROM tpairs t FULL OUTER JOIN cand c
             ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
         SELECT CAST(sum(t) AS BIGINT) AS n_truth,
           CAST(sum(r) AS BIGINT) AS n_retrieved,
           CAST(sum(t * r) AS BIGINT) AS n_hit,
           CAST(sum(t * r) AS DOUBLE) / CAST(sum(r) AS DOUBLE)
             AS precision,
           CAST(sum(t * r) AS DOUBLE) / CAST(sum(t) AS DOUBLE) AS recall
         FROM j""",
    "q176_zorder3" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey % 32 AS x,
         l_suppkey % 32 AS y, CAST(l_quantity AS BIGINT) % 32 AS zc,
         CAST(${Layout.zValueNSql(Seq("l_partkey % 32", "l_suppkey % 32",
           "CAST(l_quantity AS BIGINT) % 32"), 5)} AS BIGINT) AS z
         FROM lineitem ORDER BY z, l_orderkey, l_linenumber""",
    "q177_orc_roundtrip" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
         l_returnflag FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q178_jsonl_roundtrip" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type
         FROM events ORDER BY event_id""",
    "q179_pixel_histogram" ->
      """WITH px AS (SELECT doc_id, list_transform(generate_series(1, 128),
           i -> unicode(substr(rpad(text, 128, ' '), i, 1))) AS p
           FROM documents),
         e AS (SELECT doc_id, unnest(p) AS v FROM px)
         SELECT doc_id AS media_id, v // 16 AS bin,
           count(*) AS n
         FROM e GROUP BY 1, 2 ORDER BY media_id, bin""",
    // HK fingerprint replayed from the synthesis formula: 16-sample
    // WHT windows -> 4 band energies -> band-delta time-derivative
    // sign bits packed by (window, band)
    "q221_audio_fingerprint" ->
      """WITH w AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
         wins AS (SELECT doc_id, n, g.w AS win
           FROM w, generate_series(0, 7) g(w) WHERE g.w * 16 < n),
         coef AS (SELECT doc_id, win, k.k AS k,
             CAST(sum(CASE WHEN win*16 + j.j < n
               THEN ((doc_id*31 + (win*16 + j.j)*17) % 2048 - 1024) *
                 (1 - 2 * (bit_count(CAST(j.j AS BIGINT) &
                   CAST(k.k AS BIGINT)) % 2))
               ELSE 0 END) AS BIGINT) AS c
           FROM wins, generate_series(0, 15) j(j),
             generate_series(0, 15) k(k)
           GROUP BY 1, 2, 3),
         eb AS (SELECT doc_id, win, k // 4 AS b, sum(abs(c)) AS e
           FROM coef GROUP BY 1, 2, 3),
         dd AS (SELECT a.doc_id, a.win, a.b, a.e - nb.e AS d
           FROM eb a JOIN eb nb ON a.doc_id = nb.doc_id
             AND a.win = nb.win AND nb.b = a.b + 1 WHERE a.b < 3),
         bits AS (SELECT cur.doc_id,
             CASE WHEN cur.d - prev.d > 0
               THEN CAST(1 AS BIGINT)
                 << CAST(3 * (cur.win - 1) + cur.b AS INT)
               ELSE 0 END AS bit
           FROM dd cur JOIN dd prev ON cur.doc_id = prev.doc_id
             AND prev.win = cur.win - 1 AND prev.b = cur.b),
         nww AS (SELECT doc_id, CAST((n + 15) // 16 AS INT) AS n_windows
           FROM w)
         SELECT nww.doc_id AS media_id, nww.n_windows,
           CAST(coalesce(sum(bits.bit), 0) AS BIGINT) AS fp
         FROM nww LEFT JOIN bits ON nww.doc_id = bits.doc_id
         GROUP BY 1, 2 ORDER BY media_id""",
    // WHT filterbank replayed from the synthesis formula: coefficient
    // c_k = sum_j s_j * (-1)^popcount(j & k) per 64-sample window,
    // |c| summed into four 16-coefficient bands
    "q217_wav_wht" ->
      """WITH w AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
         wins AS (SELECT doc_id, n, g.w AS win
           FROM w, generate_series(0, 1) g(w) WHERE g.w * 64 < n),
         coef AS (SELECT doc_id, win, k.k AS k,
             CAST(sum(CASE WHEN win*64 + j.j < n
               THEN ((doc_id*31 + (win*64 + j.j)*17) % 2048 - 1024) *
                 (1 - 2 * (bit_count(CAST(j.j AS BIGINT) &
                   CAST(k.k AS BIGINT)) % 2))
               ELSE 0 END) AS BIGINT) AS c
           FROM wins, generate_series(0, 63) j(j),
             generate_series(0, 63) k(k)
           GROUP BY 1, 2, 3)
         SELECT doc_id AS media_id, CAST(win AS INT) AS win,
           CAST(sum(CASE WHEN k < 16 THEN abs(c) ELSE 0 END) AS BIGINT)
             AS band0,
           CAST(sum(CASE WHEN k >= 16 AND k < 32 THEN abs(c) ELSE 0 END)
             AS BIGINT) AS band1,
           CAST(sum(CASE WHEN k >= 32 AND k < 48 THEN abs(c) ELSE 0 END)
             AS BIGINT) AS band2,
           CAST(sum(CASE WHEN k >= 48 THEN abs(c) ELSE 0 END) AS BIGINT)
             AS band3
         FROM coef GROUP BY 1, 2 ORDER BY media_id, win""",
    // Simpson diversity: sum(cnt^2)*1e6 // len^2 over the char counts
    "q218_char_diversity" ->
      """WITH e AS (SELECT doc_id,
           unnest(list_transform(
             generate_series(1, CAST(length(text) AS INT)),
             i -> substr(text, i, 1))) AS ch
           FROM documents),
         c AS (SELECT doc_id, ch, count(*) AS cnt FROM e GROUP BY 1, 2),
         a AS (SELECT doc_id, count(*) AS dc, sum(cnt) AS len,
             sum(cnt*cnt) AS s2 FROM c GROUP BY 1)
         SELECT doc_id, CAST(dc AS BIGINT) AS distinct_chars,
           CAST(s2 * 1000000 // (len*len) AS BIGINT) AS simpson_ppm
         FROM a ORDER BY doc_id""",
    "q180_wav_dsp" ->
      """WITH w AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
         a AS (SELECT doc_id, n,
           list_transform(generate_series(0, CAST(n - 1 AS INT)),
             k -> (doc_id*31 + k*17) % 2048 - 1024) AS s
           FROM w)
         SELECT doc_id AS media_id, CAST(n AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(generate_series(2, CAST(n AS INT)),
             i -> CASE WHEN (s[i-1] >= 0) != (s[i] >= 0) THEN 1 ELSE 0 END))
             AS BIGINT) AS zero_crossings,
           CAST(list_sum(list_transform(generate_series(2, CAST(n AS INT)),
             i -> s[i-1] * s[i])) AS BIGINT) AS autocorr_lag1
         FROM a ORDER BY media_id""",
    "q181_triangles" ->
      s"""WITH ${MINHASH_CHAIN("documents")},
         e AS (SELECT doc_a AS a, doc_b AS b FROM pairs)
         SELECT count(*) AS n_triangles
         FROM e e1 JOIN e e2 ON e1.b = e2.a
         JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""",
    // identical relation to q160 — the stored-index path must agree
    // with the recompute path
    "q182_winnow_index_reuse" ->
      s"""WITH fc AS (${winnowFpsSql("doc_id % 10 != 0")}),
         fb AS (${winnowFpsSql("doc_id % 10 = 0")}),
         ok AS (SELECT sel_hash FROM fc GROUP BY sel_hash
           HAVING count(*) <= 64)
         SELECT fc.doc_id AS doc_a, fb.doc_id AS doc_b,
           count(*) AS n_shared
         FROM fc JOIN ok ON fc.sel_hash = ok.sel_hash
         JOIN fb ON fc.sel_hash = fb.sel_hash
         GROUP BY 1, 2 ORDER BY doc_a, doc_b""",
    "q189_prefix_join" ->
      s"""WITH ${SHINGLES_FROM(
          s"(SELECT doc_id, CASE WHEN doc_id % 50 = 0 THEN '$hotText' " +
            "ELSE text END AS text FROM documents WHERE doc_id % 5 = 0)")},
         dfs AS (SELECT m, count(*) AS df FROM sh GROUP BY m),
         psizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         pref AS (SELECT doc_id, m, rk, n FROM (
           SELECT sh.doc_id, sh.m, dfs.df, psizes.n,
             row_number() OVER (PARTITION BY sh.doc_id
               ORDER BY dfs.df, sh.m) AS rk
           FROM sh JOIN dfs ON sh.m = dfs.m
           JOIN psizes ON sh.doc_id = psizes.doc_id)
           WHERE rk <= n - CAST(ceil(0.5 * n) AS BIGINT) + 1
             AND df <= 256),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM pref a JOIN pref b ON a.m = b.m
             AND a.doc_id < b.doc_id
             AND b.n >= CAST(ceil(0.5 * a.n) AS BIGINT)
             AND a.n >= CAST(ceil(0.5 * b.n) AS BIGINT)
             AND 1 + least(a.n - a.rk, b.n - b.rk) >=
               CAST(ceil((0.5/1.5) * CAST(a.n + b.n AS DOUBLE))
                 AS BIGINT)),
         ${JACCARD_TAIL(0.5)}""",
    "q188_quality_checks" ->
      """WITH a AS (SELECT count(o_custkey) AS cn, count(*) AS ct,
           count(DISTINCT o_orderkey) AS ud, count(o_orderkey) AS un,
           count(CASE WHEN o_totalprice < 0
             OR o_totalprice > 10000000 THEN 1 END) AS rv,
           count(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 END)
             AS sv,
           count(*) AS mr FROM orders)
         SELECT * FROM (
           SELECT 'complete(o_custkey)' AS "check",
             CAST(cn AS DOUBLE) / CAST(ct AS DOUBLE) AS metric,
             CAST(cn AS DOUBLE) / CAST(ct AS DOUBLE) >= 1.0 AS passed
           FROM a
           UNION ALL SELECT 'unique(o_orderkey)',
             CAST(ud AS DOUBLE) / CAST(un AS DOUBLE), ud = un FROM a
           UNION ALL SELECT 'in_range(o_totalprice)',
             CAST(rv AS DOUBLE), rv = 0 FROM a
           UNION ALL SELECT 'in_set(o_orderstatus)',
             CAST(sv AS DOUBLE), sv = 0 FROM a
           UNION ALL SELECT 'min_rows', CAST(mr AS DOUBLE), mr >= 1
           FROM a)
         ORDER BY "check"""",
    "q185_ohlc_resample" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           value, epoch_us(ts) // 3600000000 AS hour FROM events)
         SELECT user_id, hour,
           arg_min(value, printf('%020d%020d', ts_us, event_id)) AS open,
           max(value) AS high, min(value) AS low,
           arg_max(value, printf('%020d%020d', ts_us, event_id)) AS close,
           count(*) AS n
         FROM e GROUP BY 1, 2 ORDER BY user_id, hour""",
    "q186_gap_fill" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           value, epoch_us(ts) // 3600000000 AS hour FROM events),
         hourly AS (SELECT user_id, hour,
           arg_max(value, printf('%020d%020d', ts_us, event_id)) AS v
           FROM e GROUP BY 1, 2),
         spans AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
           FROM hourly GROUP BY 1),
         slots AS (SELECT user_id, unnest(generate_series(h0, h1)) AS hour
           FROM spans)
         SELECT s.user_id, s.hour,
           last_value(h.v IGNORE NULLS) OVER (PARTITION BY s.user_id
             ORDER BY s.hour ROWS UNBOUNDED PRECEDING) AS filled,
           h.v IS NOT NULL AS is_observed
         FROM slots s LEFT JOIN hourly h
           ON s.user_id = h.user_id AND s.hour = h.hour
         ORDER BY s.user_id, s.hour""",
    "q183_box_blur" ->
      """WITH px AS (SELECT doc_id, list_transform(generate_series(1, 128),
           i -> unicode(substr(rpad(text, 128, ' '), i, 1))) AS p
           FROM documents),
         e AS (SELECT doc_id, i - 1 AS pos, p[i] AS v FROM px,
           generate_series(1, 128) g(i)),
         c AS (SELECT doc_id,
             ((pos // 16) + dy) * 16 + (pos % 16) + dx AS tpos, v
           FROM e, (VALUES (-1,-1),(0,-1),(1,-1),(-1,0),(0,0),(1,0),
             (-1,1),(0,1),(1,1)) o(dx, dy)
           WHERE (pos % 16) + dx BETWEEN 0 AND 15
             AND (pos // 16) + dy BETWEEN 0 AND 7),
         b AS (SELECT doc_id, tpos, sum(v) AS s, count(*) AS c
           FROM c GROUP BY 1, 2)
         SELECT doc_id AS media_id, CAST(tpos AS BIGINT) AS pos,
           CAST(s // 9 AS BIGINT) AS blur
         FROM b WHERE c = 9 ORDER BY media_id, pos""")

  /** Distinct (doc_id, sel_hash) winnowing fingerprints (w = 4) over the
    * documents rows matching `pred` — the composable core of the q157
    * oracle, reused by the q160 containment chain. */
  private def winnowFpsSql(pred: String): String =
    s"""SELECT DISTINCT doc_id, selkey // 1048576 AS sel_hash
       FROM (SELECT doc_id, pos,
           count(*) OVER (PARTITION BY doc_id) AS n,
           min(hh * 1048576 + (1048575 - pos)) OVER (PARTITION BY doc_id
             ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
             AS selkey
         FROM (SELECT doc_id, i AS pos, ($tokH) % 1073741824 AS hh
           FROM (SELECT doc_id, t, i FROM (SELECT doc_id,
             unnest(string_split(text,' ')) AS t,
             generate_subscripts(string_split(text,' '), 1) AS i
             FROM documents WHERE $pred))))
       WHERE pos <= n - 3"""
}
