package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — one entry per implemented operator from SURVEY.md §2
  * (+ the beyond-reference training-data operators). Every query has a
  * matching DuckDB oracle in `oracleSql` unless its semantics are not
  * reasonably ANSI-SQL-expressible (then the driver does a rows-only
  * check and ScalaTest carries the semantics).
  */
object SparkEntry {

  /** The reference's canned queries reshaped to the fixture vocabulary
    * (/root/reference/scripts/search_client.py:103-109 pattern). */
  val BatchQueries: Seq[(Int, String)] = Seq(
    0 -> "vector query", 1 -> "stream batch", 2 -> "scan filter",
    3 -> "group agg", 4 -> "sort merge")

  /** The `document_ids` in-list for the S3 pagination variant
    * (/root/reference/src/core/vector_store.py:344-348). */
  val PaginationIds: Seq[Long] = (0L to 120L by 3)

  /** Query-vector ids for the batched KNN (one job, Q queries). */
  val BatchKnnIds: Seq[Long] = Seq(0L, 7L, 19L, 42L, 88L)

  /** Query-vector ids for the RECALL gates: a 20-point stride sample —
    * wide enough that the gate measures quantizer quality rather than
    * a 5-query sample's luck (round 11 measured first-k vs trained
    * coarse centroids at 0.38 vs 0.51 mean recall over 50 queries
    * while the old 5-id sample ranked them the other way round). */
  val RecallIds: Seq[Long] = (0L until 500L by 25L)

  /** Query DOC ids for the TF-IDF recall gate — present at every sf
    * (doc_id 0..499 at the smallest fixture). */
  val TfidfRecallIds: Seq[Long] = (0L until 480L by 60L)

  /** Bloom probe ids: three present users, two absent. */
  val BloomProbeIds: Seq[Long] = Seq(3L, 77L, 149L, 500000L, 999999L)

  /** Probe terms for the count-min sketch check: frequent, mid, absent. */
  val CountMinProbeTerms: Seq[String] =
    Seq("hash", "join", "vector", "zz_absent_term")

  /** Flagship query (FTS top-k) on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Fts.search(spark, "/root/testdata/sf0.001", "hash join merge", "en", 10)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.2 full-text search
    // ROUTED (r15 verdict #1): probes the persisted term-bucketed index
    // past the corpus threshold — the reference's GIN plan shape — else
    // the zero-exchange scan; one scorer over either posting source
    "fts_topk" -> ((s, d) => Fts.search(s, d, "hash join merge", "en", 10)),
    // language-keyed analysis: French stopwords strip the query's
    // function words; zh runs the bare-tokenization (PG `simple`) path
    "fts_topk_fr" -> ((s, d) =>
      Fts.searchLang(s, d, "le merge et la table", "fr", 10)),
    "fts_topk_zh" -> ((s, d) =>
      Fts.searchLang(s, d, "the stream filter", "zh", 10)),
    // analyzer-matrix round-trip: per-DETECTED-lang index ∘ per-lang
    // query over the mixed corpus; misroutes visible via labeled_lang
    "fts_lang_roundtrip" -> ((s, d) =>
      Fts.searchLangRouted(s, d, "hash join", 3)),
    // ts_rank_cd normalization bitmask beyond the hardwired 32:
    // 33 = (1 | 32) → log-doc-length damping then rank/(rank+1)
    "fts_topk_norm" -> ((s, d) =>
      Fts.searchNormalized(s, d, "hash join merge", "en", 10, 33)),
    "fts_topk_cd" -> ((s, d) =>
      Fts.searchCoverDensity(s, d, "hash join merge", "en", 10)),
    // stemmed search: "merging streams" matches docs containing the base
    // forms "merge"/"stream" (the reference's plainto_tsquery behavior)
    "fts_topk_stemmed" -> ((s, d) =>
      Fts.searchStemmed(s, d, "merging streams", "en", 10)),
    "fts_phrase" -> ((s, d) => Fts.phraseSearch(s, d, "hash join", "en", 10)),
    // full boolean algebra (& | ! parens) — one AST emits both engines
    "fts_boolean" -> ((s, d) =>
      Fts.booleanSearch(s, d, "(hash | merge) & !sort", "en", 10)),
    // websearch_to_tsquery: quoted phrase, bare OR, glued -negation
    "fts_websearch" -> ((s, d) =>
      Fts.websearchSearch(s, d, "\"hash join\" OR merge -sort", "en", 10)),
    // proximity search (NEAR/8, unordered) + the tsquery_phrase
    // distance operator `hash <2> merge` (b exactly n after a)
    "fts_near" -> ((s, d) =>
      Fts.nearSearch(s, d, "hash", "merge", 8, "en", 10)),
    "fts_phrase_dist" -> ((s, d) =>
      Fts.phraseDistSearch(s, d, "hash", "merge", 2, "en", 10)),
    // Okapi BM25 (k1=1.2, b=0.75), OR-match — the ts_rank alternative
    "fts_bm25" -> ((s, d) => Fts.searchBm25(s, d, "hash join merge", "en", 10)),
    // the full endpoint parameter surface composed in one query:
    // collection scope + string-coerced metadata filter + min_score
    "fts_endpoint" -> ((s, d) =>
      Fts.searchEndpoint(s, d, "hash join merge", "en", "80", 0.79, 10)),
    "fts_termstats" -> ((s, d) => Fts.termStats(s, d)),
    // prefix search (the tsquery 'pre:*' analog) over the term index
    "fts_prefix" -> ((s, d) => Fts.prefixSearch(s, d, "ha", 10)),
    // LIKE-pattern family completed: suffix via the reversed-term
    // index, infix via the vocab scan + postings probe
    "fts_suffix" -> ((s, d) => Fts.suffixSearch(s, d, "er", 10)),
    "fts_infix" -> ((s, d) => Fts.infixSearch(s, d, "as", 10)),
    // suggest-as-you-type: top df-ranked vocabulary completions
    "fts_complete" -> ((s, d) => Fts.completeTerms(s, d, "s", 10)),
    // index DELETE path: anti-join tombstones, no rebuild
    "fts_delete_termstats" -> ((s, d) =>
      Fts.termStatsAfterDelete(s, d, 7L)),
    // index VACUUM: tombstones folded into a rewritten generation;
    // oracled against the SAME SQL as the merge-on-read form — the
    // hash gate holds vacuum ≡ anti-join every round
    "fts_vacuum_termstats" -> ((s, d) =>
      Fts.termStatsVacuumed(s, d, 7L)),
    // r17: the vacuum discipline extended to EVERY persisted index
    // family (stemmed, reverse, lang-routed, bm25 sidecars, attrs) —
    // each observable reads only its vacuumed generation; each oracle
    // recomputes from the surviving corpus
    "fts_vacuum_stemstats" -> ((s, d) =>
      Fts.stemmedTermStatsVacuumed(s, d, 7L)),
    "fts_vacuum_suffix" -> ((s, d) =>
      Fts.suffixSearchVacuumed(s, d, "er", 7L, 10)),
    "fts_vacuum_langstats" -> ((s, d) =>
      Fts.langRoutedStatsVacuumed(s, d, 7L)),
    "fts_vacuum_bm25stats" -> ((s, d) =>
      Fts.bm25StatsVacuumed(s, d, 7L)),
    "fts_vacuum_facets" -> ((s, d) =>
      Fts.facetedSearchVacuumed(s, d, "hash join", 7L)),
    // posting-length decade histogram (index health introspection)
    "fts_df_histogram" -> ((s, d) => Fts.dfHistogram(s, d)),
    // facet panel: (lang, source) doc counts over the AND-match set
    "fts_facets" -> ((s, d) => Fts.facetedSearch(s, d, "hash join")),
    // TF-IDF keyword extraction: top-3 characteristic terms per doc
    "keywords_tfidf" -> ((s, d) => Fts.keywordsTfidf(s, d, 3)),
    // ts_headline analog: KWIC snippets around the first term hit
    "fts_headline" -> ((s, d) =>
      Fts.headlines(s, d, "hash join merge", "en", 10, 5)),
    "fts_batch" -> ((s, d) => Fts.batchSearch(s, d, BatchQueries, "en", 5)),
    // one query, top-k per collection, ONE job (fts_batch keyed by
    // collection instead of query index)
    "fts_by_collection" -> ((s, d) =>
      Fts.searchPerCollection(s, d, "hash join", 5)),
    // rarest-term-first AND intersection: identical results to
    // fts_topk, candidate frames bounded by the rarest term's df
    "fts_rarest_first" -> ((s, d) =>
      Fts.searchRarestFirst(s, d, "hash join merge", "en", 10)),
    // pseudo-relevance feedback (RM3 lineage): mine top-5 feedback
    // docs for 5 expansion terms, damped re-retrieval; term selection
    // itself gated by fts_prf_terms
    "fts_prf_terms" -> ((s, d) =>
      QueryExpand.prfTerms(s, d, "hash join", "en", 5, 5)),
    "fts_prf" -> ((s, d) =>
      QueryExpand.prfSearch(s, d, "hash join", "en", 5, 5, 10)),
    // more-like-this: doc 14 (en at every sf) top-5 TF-IDF terms
    "fts_mlt" -> ((s, d) =>
      QueryExpand.moreLikeThis(s, d, 14L, "en", 5, 10)),
    // typo-tolerant search: SymSpell delete-neighborhood expansion over
    // the vocabulary (lev<=1, max 8 expansions/term, highest-df first)
    // gated against the brute-force Levenshtein scan
    "fts_fuzzy_expand" -> ((s, d) =>
      FuzzySearch.expand(s, d, Seq("hashe", "joim", "merg"), "en", 8)),
    "fts_fuzzy" -> ((s, d) =>
      FuzzySearch.fuzzySearch(s, d, "hashe joim merg", "en", 10, 8)),
    // §2.3 vector similarity
    "knn_cosine" -> ((s, d) => Similarity.knnCosine(s, d, 0L, 10, 0.95)),
    // per-collection distance_function dispatch (models.py:20): the
    // label%3 policy routes 4→l2, 5→ip, 3→cosine; each query runs
    // through knnForCollection so a mis-route fails the oracle hash
    "knn_l2" -> ((s, d) =>
      Similarity.knnForCollection(s, d, 4, Similarity.minVecId(s, d, 4), 10)),
    "knn_ip" -> ((s, d) =>
      Similarity.knnForCollection(s, d, 5, Similarity.minVecId(s, d, 5), 10)),
    "knn_dispatch_cos" -> ((s, d) =>
      Similarity.knnForCollection(s, d, 3, Similarity.minVecId(s, d, 3), 10)),
    "vec_collections" -> ((s, d) =>
      Similarity.vectorCollections(s, d).orderBy("collection_id")),
    "p1_validate_dim" -> ((s, d) =>
      graft.operators.DocumentPipeline.validateEmbeddingDim(s, d)),
    // batched exact KNN: Q query vectors in one q_id-keyed window job
    "knn_batch" -> ((s, d) => Similarity.knnBatch(s, d, BatchKnnIds, 5)),
    "ann_recall" -> ((s, d) =>
      Similarity.annRecall(s, d, RecallIds, 5, 10)),
    // the recall-vs-probe-width tuning curve over the same index
    "ann_recall_curve" -> ((s, d) =>
      Similarity.annRecallCurve(s, d, RecallIds, 5, 10, Seq(1, 2, 4))),
    // the corpus-relative cell-count policy under the hash gate
    "ivf_ann_auto" -> ((s, d) =>
      Similarity.ivfTopKAuto(s, d, 42L, 10)),
    // the same batch routed through the persisted IVF index (ANN form)
    "ivf_batch" -> ((s, d) =>
      Similarity.ivfBatch(s, d, BatchKnnIds, 5, 10)),
    "ivf_ann" -> ((s, d) => Similarity.ivfTopK(s, d, 42L, 10, 10)),
    // the past-the-driver-bound route under the full hash gate: the
    // two-level (coarse router -> cells -> exact re-rank) probe over
    // the hierarchical index, trained by the kmeans_hier chain
    "ivf_ann_hier" -> ((s, d) =>
      Similarity.ivfTopKHier(s, d, 42L, 10, 4, 4, 2, 2)),
    // vector-index DELETE path: tombstone merge-on-read per-cell
    // occupancy, no rebuild (mirrors fts_delete_termstats)
    "ivf_delete_stats" -> ((s, d) =>
      Similarity.ivfDeleteStats(s, d, 10, 7L)),
    // the delete story's PROBE path under the hash gate: tombstone
    // anti-join inside the probed cells, index untouched
    "ivf_ann_deleted" -> ((s, d) =>
      Similarity.ivfTopKDeleted(s, d, 42L, 10, 10, 7L, 2)),
    // index COMPACTION (vacuum): dead rows rewritten out, centroids
    // untouched — per-cell occupancy of the compacted generation
    "ivf_compact_stats" -> ((s, d) =>
      Similarity.ivfCompactStats(s, d, 10, 7L)),
    // probe over the compacted generation, NO anti-join — oracled
    // against the SAME SQL as ivf_ann_deleted (vacuum ≡ merge-on-read)
    "ivf_ann_compacted" -> ((s, d) =>
      Similarity.ivfTopKCompacted(s, d, 42L, 10, 10, 7L, 2)),
    // late-interaction (ColBERT MaxSim) retrieval over pseudo-docs of
    // vec_id % 50: exact baseline + PLAID-style IVF-cell-pruned path
    // graph ANN (NSW shape): M-NN graph over 2-probe IVF candidates,
    // beam walk from a fixed entry (B=16, R=4), oracle unrolls the walk
    "graph_ann" -> ((s, d) =>
      GraphAnn.beamSearchAuto(s, d, 42L, 0L, 12, 16, 4, 10)),
    // batched graph ANN: Q walks in one distributed frontier frame —
    // exchanges per round independent of Q, zero driver collects
    "graph_ann_batch" -> ((s, d) =>
      GraphAnn.batchBeamSearchAuto(s, d, BatchKnnIds, 0L, 12, 16, 4, 5)),
    // graph-ANN recall gate: beam walk vs exact KNN (completes the
    // per-variant quality-gate matrix)
    "gann_recall" -> ((s, d) =>
      GraphAnn.beamRecallAuto(s, d, BatchKnnIds, 0L, 12, 16, 4, 5)),
    "maxsim_topk" -> ((s, d) =>
      MultiVector.maxSimTopK(s, d, 3L, 50, 500L, 10)),
    "maxsim_pruned" -> ((s, d) =>
      MultiVector.maxSimPruned(s, d, 3L, 50, 500L, 10, 10)),
    "emb_label_stats" -> ((s, d) => Similarity.labelStats(s, d)),
    // embedding-space health: top PC by 3 power iterations (anisotropy)
    "emb_pca_power" -> ((s, d) => PcaPower.topComponent(s, d)),
    // inter-label centroid cosine: class-separation margins
    "emb_label_margin" -> ((s, d) => Similarity.labelCentroidMargins(s, d)),
    // per-dimension moment profile (dead/dominant coordinate check)
    "emb_variance" -> ((s, d) => Similarity.dimVariance(s, d)),
    // hybrid retrieval: reciprocal-rank fusion of the FTS and KNN lists
    "hybrid_rrf" -> ((s, d) =>
      Hybrid.rrfSearch(s, d, "hash join merge", "en", 0L, 20, 60, 10)),
    // weighted linear fusion (min-max normalized, alpha=0.6) — the
    // calibrated-score hybrid beside RRF's rank-only fusion
    "hybrid_linear" -> ((s, d) =>
      Hybrid.linearSearch(s, d, "hash join merge", "en", 0L, 20, 0.6, 10)),
    // int8 scalar quantization: KNN over integer codes + per-label audit
    "knn_quantized" -> ((s, d) => Quantize.knnQuantized(s, d, 0L, 10)),
    "quant_stats" -> ((s, d) => Quantize.quantStats(s, d)),
    // quantization-family recall gate: int8-SQ ranking + Matryoshka
    // prefix→exact-refine serving path, both vs exact cosine top-k —
    // completes the per-variant quality-gate matrix (r12)
    "quant_recall" -> ((s, d) =>
      Quantize.quantRecall(s, d, RecallIds, 32, 200, 10)),
    // Matryoshka two-stage KNN: coarse prefix-dim scan, exact re-rank.
    // dCoarse=32/nCand=200 = 0.86@10 measured by quant_recall at sf0.1:
    // the synthetic embeddings have no PCA-style energy compaction, so
    // a 16-dim prefix keeps only a quarter of the signal (0.26@10)
    "knn_matryoshka" -> ((s, d) =>
      Similarity.knnMatryoshka(s, d, 0L, 32, 200, 10)),
    // MMR diversified re-rank of the KNN candidates (recursive oracle)
    "mmr_rerank" -> ((s, d) => Similarity.mmrRerank(s, d, 0L, 20, 8, 0.7)),
    // product quantization: persisted 8-byte codes, ADC scan + refine
    "pq_scan" -> ((s, d) => ProductQuant.pqScan(s, d, 7L, 50, 10)),
    // codebook-quality gate: pure-ADC recall@10 vs exact L2 top-10
    "pq_recall" -> ((s, d) =>
      ProductQuant.pqRecall(s, d, Seq(3L, 7L, 11L, 19L, 23L), 10)),
    // IVF-PQ: cell-pruned scan of bucketed residual codes + refine
    "ivfpq_ann" -> ((s, d) => IvfPq.ivfPqScan(s, d, 13L, 400, 10)),
    // batched IVF-PQ: Q queries in ONE job over the codes table
    "ivfpq_batch" -> ((s, d) =>
      IvfPq.ivfPqBatch(s, d, BatchKnnIds, 400, 5)),
    // filtered ANN: metadata predicate applied inside the probed cells
    "ivf_ann_filtered" -> ((s, d) =>
      Similarity.ivfTopKFiltered(s, d, 42L, 4, 10, 10, 3)),
    // serving-recall gate for the IVF-PQ index: the full probe→ADC
    // pool→exact-refine path vs the exact top-k (nCand widened r12 —
    // the r11 pure-ADC gate scored 0.158@10, error the refine removes)
    "ivfpq_recall" -> ((s, d) =>
      IvfPq.ivfPqRecall(s, d, RecallIds, 10, 400)),
    // pool-width recall ladder (the curve the r12 nCand=400 choice was
    // read from; protects the pool width round-over-round)
    "ivfpq_recall_curve" -> ((s, d) =>
      IvfPq.ivfPqRecallCurve(s, d, RecallIds, 10, Seq(50, 200, 400))),
    // binary (sign-bit) quantization: Hamming scan over packed words,
    // exact cosine refine of the nCand survivors
    "bq_ann" -> ((s, d) => BinaryQuant.bqScan(s, d, 7L, 50, 10)),
    // quantizer-quality gate: pure-Hamming recall@10 vs exact cosine
    "bq_recall" -> ((s, d) => BinaryQuant.bqRecall(s, d, RecallIds, 10)),
    // §2.1 scans/sinks + collections
    "s1_collection_lookup" -> ((s, d) => Collections.lookup(s, d, "fr")),
    "s2_collection_list" -> ((s, d) => Collections.list(s, d)),
    // the reference README's alternate table shapes as thin views
    "alt_schema_embeddings" -> ((s, d) =>
      LegacySchema.embeddingsView(s, d)),
    "alt_schema_documentation" -> ((s, d) =>
      LegacySchema.documentationView(s, d)),
    "s3_pagination" -> ((s, d) => Relational.paginateDocuments(s, d, 50, 100)),
    // collection-scoped pagination off the partition-by-collection
    // layout (PartitionFilters directory pruning, SURVEY §4.3)
    "s3_pagination_scoped" -> ((s, d) =>
      Relational.paginateCollection(s, d, "en", 50, 100)),
    "s3_pagination_ids" -> ((s, d) =>
      Relational.paginateDocumentsByIds(s, d, PaginationIds, 25, 5)),
    // keyset (seek) pagination — O(page) at any cursor depth vs OFFSET
    "s3_keyset" -> ((s, d) => Relational.paginateKeyset(s, d, 240L, 25)),
    "s5_delete_antijoin" -> ((s, d) => Relational.deleteSurvivors(s, d)),
    // S4/P8 sinks under the hash gate: append-if-absent + auto-create,
    // observed through the post-append state digest (r15 verdict #8)
    "s4_append_state" -> ((s, d) => Collections.appendStateDigest(s, d)),
    "s6_cascade_delete" -> ((s, d) =>
      Collections.cascadeDeleteSurvivors(s, d, "de")),
    // S7/S8 ServiceNow XML source: deterministic fixture round-trip,
    // searchable_text assembly hash-gated against the oracle
    "s7_servicenow_xml" -> ((s, d) =>
      graft.sources.ServiceNowXml.roundTripFixture(s, d)),
    // JSONL interchange: export documents as JSONL shards, read back,
    // per-lang integral digests vs the parquet original (codec gate)
    "jsonl_roundtrip" -> ((s, d) =>
      graft.sources.JsonlStore.roundTripDigest(s, d)),
    // S9 relation-size stat: engine-specific (parquet footprint) →
    // rows-only check per SURVEY §2.1
    "s9_relation_size" -> ((s, d) => Collections.relationSizes(s, d)),
    // §2.5/§2.6 joins/aggs/windows
    "q1_pricing" -> ((s, d) => Relational.q1PricingSummary(s, d)),
    "q3_shipping" -> ((s, d) => Relational.q3ShippingPriority(s, d)),
    "q4_semijoin" -> ((s, d) => Relational.q4OrderPriority(s, d)),
    "q5_nation_revenue" -> ((s, d) => Relational.q5RevenueByNation(s, d)),
    "q6_forecast" -> ((s, d) => Relational.q6ForecastRevenue(s, d)),
    "q7_volume" -> ((s, d) => Relational.q7VolumeShipping(s, d)),
    "q8_mktshare" -> ((s, d) => Relational.q8MarketShare(s, d)),
    "q10_returned" -> ((s, d) => Relational.q10ReturnedItems(s, d)),
    "q13_custdist" -> ((s, d) => Relational.q13CustomerDistribution(s, d)),
    "q14_promo" -> ((s, d) => Relational.q14PromoRevenue(s, d)),
    "q15_topsupplier" -> ((s, d) => Relational.q15TopSupplier(s, d)),
    "q17_smallqty" -> ((s, d) => Relational.q17SmallQtyRevenue(s, d)),
    "q18_bigorders" -> ((s, d) => Relational.q18LargeOrders(s, d)),
    "q22_prospects" -> ((s, d) => Relational.q22Prospects(s, d)),
    "q19_disjunctive" -> ((s, d) => Relational.q19DisjunctiveRevenue(s, d)),
    // Q16 shape: negated dim filter + NOT-IN anti + grouped distinct
    "q16_supplier_cnt" -> ((s, d) => Relational.q16SupplierCount(s, d)),
    // Q20 shape: nested-aggregate half-of-total predicate
    "q20_excess" -> ((s, d) => Relational.q20ExcessSuppliers(s, d)),
    // Q2 shape: correlated-MIN subquery (cheapest-offer suppliers)
    "q2_min_price" -> ((s, d) => Relational.q2MinPriceSuppliers(s, d)),
    // pricing-consistency audit: top parts by price CV (fixed-point)
    "part_price_cv" -> ((s, d) => Relational.partPriceCv(s, d, 20)),
    // Q21 shape: semi + anti SELF-joins on the fact table (sole-blame)
    "q21_sole_blame" -> ((s, d) => Relational.q21SoleBlame(s, d)),
    // Q11 shape: per-group sums gated by a global-scalar HAVING
    "q11_important" -> ((s, d) =>
      Relational.q11ImportantSuppliers(s, d, 1.05)),
    // LISTAGG/string_agg: sorted delimited roll-up per group
    "agg_stringagg" -> ((s, d) => Relational.sourcesPerLang(s, d)),
    // RATIO_TO_REPORT: per-nation revenue share of the global total
    "agg_share" -> ((s, d) => Relational.revenueShareByNation(s, d)),
    // RFM segmentation via broadcast percentile boundaries (no ntile)
    "customer_rfm" -> ((s, d) => Relational.customerRfm(s, d)),
    // Pareto 80/20 concentration curve over supplier revenue
    "pareto_suppliers" -> ((s, d) => Relational.paretoSuppliers(s, d, 25)),
    // monthly order series + explicit-key YoY growth (calendar surface)
    "orders_monthly" -> ((s, d) => Relational.monthlyOrders(s, d)),
    // ANALYZE-style per-column stats block (CBO/catalog food)
    "table_stats" -> ((s, d) => ScaleOps.columnStats(s, d)),
    "agg_gsets" -> ((s, d) => Relational.groupingSetsSummary(s, d)),
    "agg_distinct" -> ((s, d) => Relational.distinctAgg(s, d)),
    "agg_rollup" -> ((s, d) => Relational.rollupSummary(s, d)),
    "agg_cube" -> ((s, d) => Relational.cubeSummary(s, d)),
    "set_ops" -> ((s, d) => Relational.setOps(s, d)),
    "win_top_orders" -> ((s, d) => Relational.topOrdersPerCustomer(s, d)),
    // the same top-k via the BoundedTopK Aggregator: map-side partial
    // top-k bounds the shuffle to k rows/customer/task (no row window)
    "win_topk_scale" -> ((s, d) =>
      Relational.topOrdersPerCustomerScale(s, d)),
    "win_running" -> ((s, d) => Relational.runningOrderStats(s, d)),
    // bounded 10-event trailing frame (the windowed-FRAME shape)
    "win_rolling" -> ((s, d) => Relational.rollingUserStats(s, d, 10)),
    // NTILE decile bucketing (equal-count vs the histogram's equal-width)
    "win_ntile" -> ((s, d) => Relational.customerDeciles(s, d)),
    // same deciles with no global-order window anywhere in the plan
    // (exact rank via bucket offsets — the 100 TB formulation)
    "win_ntile_scale" -> ((s, d) => Relational.customerDecilesScale(s, d)),
    // percent_rank/cume_dist per segment (partitioned ranked windows)
    "win_percentile" -> ((s, d) => Relational.segmentPercentiles(s, d)),
    // bloom semi-join reduction: dim-key bloom pruned into the fact
    // scan; the plain join is the oracle (no false negatives)
    "join_bloom_prune" -> ((s, d) => ScaleOps.bloomPrunedRevenue(s, d)),
    "agg_status_tally" -> ((s, d) => Relational.statusTally(s, d)),
    // job-ledger metrics (A4 progress %, A5 tallies, O1 recency) over
    // the deterministic jobs frame — see graft.jobs.JobLedger
    "jobs_progress" -> ((s, d) => graft.jobs.JobLedger.jobProgress(s, d)),
    "jobs_tally" -> ((s, d) => graft.jobs.JobLedger.jobTally(s, d)),
    "jobs_recent" -> ((s, d) => graft.jobs.JobLedger.jobsRecent(s, d, 10)),
    "events_tumbling" -> ((s, d) => Relational.eventsTumbling(s, d)),
    // §2.8 under the ORACLE: real micro-batch executions (file-stream
    // source → stateful operator → sink) whose terminal frames equal
    // the oracled batch twins — see graft.streaming.StreamBridge
    "events_tumbling_stream" -> ((s, d) =>
      graft.streaming.StreamBridge.eventsTumblingStream(s, d)),
    "stream_index_termstats" -> ((s, d) =>
      graft.streaming.StreamBridge.streamIndexTermStats(s, d)),
    // streamed IVFPQ ingest: per-cell digest equals the batch encoding
    "stream_ivfpq_append" -> ((s, d) =>
      graft.streaming.StreamBridge.streamIvfPqCells(s, d)),
    // watermark late-data contract: deterministic 6-batch replay with
    // displaced-late rows; the oracle replays Spark's watermark
    // trajectory + drop/emission predicates in SQL
    "events_late_drop_stream" -> ((s, d) =>
      graft.streaming.StreamBridge.eventsLateDropStream(s, d)),
    // stream-stream interval join (click->purchase attribution) run to
    // completion; oracle = the same interval join at us precision
    "stream_click_attrib" -> ((s, d) =>
      graft.streaming.StreamBridge.streamClickAttribution(s, d, 3600L)),
    // session_window (merging state) in Append mode: emitted sessions
    // = closed-by-watermark sessions; oracle replays the us-precision
    // gap recurrence + the final-watermark cutoff
    "events_sessions_stream" -> ((s, d) =>
      graft.streaming.StreamBridge.eventsSessionsStream(s, d)),
    // dropDuplicatesWithinWatermark under the oracle: planted echoes —
    // within-horizon duplicates dropped, beyond-horizon ones re-emitted
    // (the state-eviction trade), classified exactly by staging margins
    "events_dedup_stream" -> ((s, d) =>
      graft.streaming.StreamBridge.eventsDedupStream(s, d)),
    // §2.8 batch analog of the streaming sessionizer (30-min gap)
    "events_sessions" -> ((s, d) => Relational.eventSessions(s, d, 1800L)),
    // hopping 10-min windows every 5 min (each event in two windows)
    "events_sliding" -> ((s, d) => Relational.eventsSliding(s, d)),
    // sequential funnel: view → click-after-view → purchase-after-click
    "events_funnel" -> ((s, d) => Relational.eventsFunnel(s, d)),
    // weekly cohort-retention triangle
    "events_retention" -> ((s, d) => Relational.eventsRetention(s, d)),
    // PIVOT reshape: priorities as columns, explicit value domain
    "agg_pivot" -> ((s, d) => Relational.pivotSummary(s, d)),
    // UNPIVOT/melt: the lossless reshape inverse of agg_pivot
    "agg_unpivot" -> ((s, d) => Relational.unpivotSummary(s, d)),
    "asof_latest_order" -> ((s, d) => Relational.asofLatestOrder(s, d)),
    "asof_custom_op" -> ((s, d) => Relational.asofLatestOrderCustom(s, d)),
    "range_join_counts" -> ((s, d) =>
      Relational.rangeJoinCounts(s, d, 3600L)),
    "sketch_countmin" -> ((s, d) =>
      Sketches.countMinEstimates(s, d, CountMinProbeTerms)),
    "events_quantiles" -> ((s, d) => Sketches.eventQuantiles(s, d)),
    // MERGEABLE quantile sketch (HDR 3-sig-digit buckets) beside the
    // exact form above — the 100 TB global-distribution primitive
    "sketch_hdr_quantiles" -> ((s, d) =>
      Sketches.hdrQuantiles(s, d, Seq(500, 900, 990, 999))),
    // deterministic HyperLogLog: md5-derived registers, integer-exact
    // harmonic sum, estimate next to the exact distinct count
    "sketch_hll" -> ((s, d) => Sketches.hllVsExact(s, d)),
    // bloom membership: present ids + absent ids, verdict beside truth
    "sketch_bloom" -> ((s, d) =>
      Sketches.bloomMembership(s, d, BloomProbeIds)),
    // fixed-bin value histogram: mergeable cells, one scan (like the
    // count-min sketch but for a continuous column)
    "events_histogram" -> ((s, d) =>
      Sketches.valueHistogram(s, d, 0.0, 50.0, 10)),
    // z-score outliers (rounded-z threshold, engine-stable row set)
    "events_outliers" -> ((s, d) => Sketches.valueOutliers(s, d, 3.0)),
    // deterministic hash-threshold sampling (reproducible, shard-stable)
    "sample_hashed" -> ((s, d) => Sampling.sampleSummary(s, d, 0.1)),
    "split_assign" -> ((s, d) => Sampling.splitAssign(s, d)),
    "split_leakage" -> ((s, d) => Sampling.splitLeakage(s, d, 0.5)),
    // stratified quota sampling: exactly N rows per language stratum
    "sample_stratified" -> ((s, d) => Sampling.stratifiedQuota(s, d, 20)),
    // coverage-guaranteed eval holdout: k docs from EVERY stratum
    "eval_holdout" -> ((s, d) => Sampling.evalHoldout(s, d, 5)),
    // the same quota draw via BoundedTopK: map-side partial top-k
    // bounds the exchange to quota rows/stratum/task (no row window)
    "sample_quota_scale" ->
      ((s, d) => Sampling.stratifiedQuotaScale(s, d, 20)),
    // token-budget corpus selection: Gopher-graded best-first greedy
    // fill via the two-pass distributed prefix sum
    "select_budget" -> ((s, d) => Sampling.selectBudget(s, d, 10000L)),
    // CDC merge-on-read: latest version wins, deletes apply last
    "merge_upsert" -> ((s, d) => Cdc.mergeUpsert(s, d)),
    "cdc_timestamps" -> ((s, d) => Cdc.mergeTimestamps(s, d)),
    // SCD type-2 history: validity intervals + current flags from the
    // same change batch; deletes close the open interval
    "cdc_scd2" -> ((s, d) => Cdc.scd2History(s, d)),
    "events_changepoints" -> ((s, d) =>
      Changepoints.eventsChangepoints(s, d, 6, 50)),
    // mixture-weighted reproducible sampler (weights drive the rates)
    "sample_weighted" -> ((s, d) => Sampling.weightedSample(s, d, 0.2)),
    // z-order layout key (Morton interleave) over (user_id, time bucket)
    "zorder_key" -> ((s, d) => ScaleOps.zorderEventKeys(s, d, 50)),
    // corpus drift monitoring: PSI over equal-width doc-length buckets,
    // even/odd doc_id halves as reference vs candidate
    "drift_psi" -> ((s, d) => Drift.psi(s, d, 10)),
    // A/B experiment readout: per-event-type two-proportion z-test,
    // deterministic user-parity variants
    "ab_test" -> ((s, d) => Experiment.abTest(s, d, 14L)),
    // Markov next-event transition matrix within 30-min sessions
    "events_transitions" -> ((s, d) => EventMining.transitions(s, d, 1800L)),
    // market-basket rules over session item-sets (support/conf/lift)
    "events_basket" -> ((s, d) => EventMining.basketRules(s, d, 1800L)),
    // EWMA trend over the dense daily volume series per event type
    "events_ewma" -> ((s, d) => EventMining.ewmaDaily(s, d, 0.3)),
    // autocorrelation of the daily series, lags 1..7 (periodicity)
    "events_acf" -> ((s, d) => EventMining.acfDaily(s, d, 7)),
    // day-of-week seasonal baseline + mean±2σ outlier-day counts
    "events_dow" -> ((s, d) => EventMining.dowProfile(s, d)),
    // Zipf's-law least-squares fit over the term-frequency vocabulary
    "zipf_fit" -> ((s, d) => Fts.zipfFit(s, d)),
    // Simpson/top-share concentration of the term distribution
    "vocab_concentration" -> ((s, d) => Fts.vocabConcentration(s, d)),
    // CSV interchange: export/read-back digest gate (JSONL's sibling)
    "csv_roundtrip" -> ((s, d) =>
      graft.sources.CsvStore.roundTripDigest(s, d)),
    // DAU / new-user / cumulative growth panel on the day axis
    "events_user_growth" -> ((s, d) => EventMining.userGrowth(s, d)),
    // first-view → first-purchase latency distribution (1-row summary)
    "events_time_to_convert" -> ((s, d) => EventMining.timeToConvert(s, d)),
    // days-inactive churn distribution off each user's last event
    "events_inactivity" -> ((s, d) => EventMining.inactivity(s, d)),
    // robust MAD anomaly flags on the daily series (median twin of dow)
    "events_mad" -> ((s, d) => EventMining.madOutliers(s, d)),
    // top 3-step session opening paths (journey mining over sessions)
    "events_paths" -> ((s, d) =>
      EventMining.openingPaths(s, d, 1800L, 3, 10)),
    // one-way ANOVA of value across types (fixed-point exact sums)
    "events_anova" -> ((s, d) => EventMining.valueAnova(s, d)),
    // Benford first-digit audit of value (string-based bucketing)
    "events_benford" -> ((s, d) => EventMining.benfordDigits(s, d)),
    // inter-event gap quantiles: the evidence behind the 1800s gap
    "events_gaps" -> ((s, d) => EventMining.gapStats(s, d)),
    // event-mix drift between time halves (two-sample homogeneity)
    "events_mix_drift" -> ((s, d) => EventMining.typeMixDrift(s, d)),
    // per-user behavioral entropy histogram (half-bit bands)
    "events_user_entropy" -> ((s, d) => EventMining.userEntropy(s, d)),
    // STATEFUL-DISTINCT under the oracle: dropDuplicates(user) growth
    // counting over the staged late-arrival replay, min-bin credited
    "stream_user_growth" -> ((s, d) =>
      graft.streaming.StreamBridge.streamUserGrowth(s, d)),
    // CUSTOM-state operators under the oracle (r12): the
    // flatMapGroupsWithState gap sessionizer (emission rule = sessions
    // CLOSED by a later event; trailing open session withheld) and the
    // mapGroupsWithState running totals (Update mode)
    "stream_custom_sessions" -> ((s, d) =>
      graft.streaming.StreamBridge.streamCustomSessions(s, d)),
    "stream_running_totals" -> ((s, d) =>
      graft.streaming.StreamBridge.streamRunningTotals(s, d)),
    // salted two-stage aggregation: exact vs the plain GROUP BY oracle
    "agg_salted" -> ((s, d) => ScaleOps.saltedSuppAgg(s, d)),
    // exact count-distinct with a salted combine — the skew case
    // partial aggregation can't absorb (see SkewStress for the rung)
    "agg_salted_distinct" -> ((s, d) => ScaleOps.saltedDistinctUsers(s, d)),
    // zero-exchange fact-fact join+agg over pre-bucketed tables
    "bucketed_revenue" -> ((s, d) => ScaleOps.bucketedRevenue(s, d, 10)),
    // order-independent multiset digests (dataset-versioning primitive)
    "table_digest" -> ((s, d) => ScaleOps.tableDigests(s, d)),
    // join-key skew diagnostic (the salting decision input)
    "skew_stats" -> ((s, d) => ScaleOps.joinKeySkew(s, d, 10)),
    // Gopher-style repetition signals (dup-word fraction, top bigram)
    "quality_repetition" -> ((s, d) => TextOps.repetitionStats(s, d)),
    // unigram-LM perplexity proxy (CCNet-style quality gate)
    "quality_unigram_lm" -> ((s, d) => QualityLm.unigramNll(s, d)),
    // held-out bigram LM with stupid backoff (KenLM-shape, one rung up)
    "quality_bigram_lm" -> ((s, d) => Ngrams.bigramNll(s, d)),
    // PMI collocation mining over adjacent analyzed-token pairs
    "pmi_collocations" -> ((s, d) => Ngrams.pmiCollocations(s, d)),
    // Gopher/MassiveWeb composite rule gate with per-rule attribution
    "quality_gopher" -> ((s, d) => TextOps.gopherQuality(s, d)),
    // per-source curation roll-up (gate pass rate + mean unigram NLL)
    "curation_report" -> ((s, d) => QualityLm.curationReport(s, d)),
    "quality_ppl_buckets" -> ((s, d) => QualityLm.pplBuckets(s, d)),
    // per-(source,lang) training-mixture weights (sqrt-damped shares)
    "mix_weights" -> ((s, d) => Sampling.mixWeights(s, d)),
    // the XLM-R/mT5 temperature ladder (T=1 proportional .. T=5)
    "mix_weights_temp" -> ((s, d) =>
      Sampling.mixWeightsTemp(s, d, Seq(1.0, 2.0, 5.0))),
    // §2.3 V2 metadata filter (string-coerced JSON equality) — ROUTED
    // scan↔sidecar (r18: extract-typed-once per corpus generation;
    // the scan route re-parsed JSON per row per query)
    "meta_filter_coerce" -> ((s, d) =>
      TextOps.metadataFilterAuto(s, d, "k", "42")),
    // numeric-coerced JSON range filter (the comparison sibling of V2)
    "meta_filter_range" -> ((s, d) =>
      TextOps.metadataRangeFilterAuto(s, d, "k", 25L, 75L)),
    // sidecar lifecycle close: range filter over the VACUUMED
    // generation (tombstones folded in by rewrite)
    "meta_vacuum_range" -> ((s, d) =>
      TextOps.metadataRangeFilterVacuumed(s, d, "k", 25L, 75L, 7L)),
    // §2.4 ingest pipeline
    "p1_validate" -> ((s, d) => DocumentPipeline.validate(s, d)),
    "p1_validate_meta" -> ((s, d) =>
      DocumentPipeline.validateWithMetadata(s, d)),
    "p2_docid" -> ((s, d) => TextOps.deterministicIds(s, d)),
    "p3_preprocess" -> ((s, d) => DocumentPipeline.preprocessDigest(s, d)),
    "p4_metadata" -> ((s, d) => DocumentPipeline.extractMetadata(s, d)),
    "text_stats" -> ((s, d) => TextOps.textStats(s, d)),
    "diversity_report" -> ((s, d) => TextOps.diversityReport(s, d)),
    // compressibility quality signal: the owned LZ-novelty estimator
    // (distinct-8-gram ratio) — fully oracle-replayable; the REAL
    // zlib signal stays as TextOps.compressionQuality, spec-gated
    // (WinnowSpec) and rank-correlated against this estimator
    "quality_compress" -> ((s, d) => TextOps.compressionNovelty(s, d)),
    // PII redaction: planted emails scrubbed, post-redaction text
    // hash-gated
    "redact_pii" -> ((s, d) => TextOps.redactPii(s, d)),
    "token_accounting" -> ((s, d) => TextOps.tokenAccounting(s, d)),
    // per-(source, lang) corpus datacard: docs, exact dups, tokens, p50
    "corpus_datacard" -> ((s, d) => Datacard.corpusDatacard(s, d)),
    // k-anonymity audit over (lang, source, length-bucket) cells
    "kanon_risk" -> ((s, d) => Datacard.kAnonymityRisk(s, d, 5L, 100L)),
    // per-language length quantile block (grouped exact percentiles)
    "len_quantiles" -> ((s, d) => Datacard.lengthQuantilesByLang(s, d)),
    // Efraimidis-Spirakis weighted sample WITHOUT replacement (exact k)
    "sample_aes" -> ((s, d) => Sampling.aesSample(s, d, 20)),
    // retrieval-quality eval: nDCG@10 + MRR@10 of the BM25 ranking vs
    // term-overlap graded relevance (micro-integer DCG for determinism)
    "retrieval_ndcg" -> ((s, d) =>
      RetrievalEval.ndcg(s, d, "hash join merge", "en", 10)),
    // concat-and-chunk sequence packing into fixed token budgets
    "pack_sequences" -> ((s, d) => TextOps.packSequences(s, d, 2048L)),
    "fingerprint_winnow" -> ((s, d) => TextOps.winnowFingerprints(s, d)),
    // PPJoin: exact-threshold set-similarity join via prefix filtering,
    // hash-gated against the brute posting-join semantics
    "dedup_ppjoin" -> ((s, d) => Dedup.ppjoinPairs(s, d, 0.5)),
    // LSH banding recall vs the provably-complete prefix-filtered join
    "dedup_lsh_eval" -> ((s, d) => Dedup.lshRecallEval(s, d, 0.5)),
    // LangId heuristic vs the labeled lang column: confusion matrix
    "langid_confusion" -> ((s, d) =>
      graft.functions.LangId
        .withDetected(graft.Tables.documentsDense(s, d), "text")
        .groupBy("lang", "detected").count()
        .orderBy(org.apache.spark.sql.functions.col("lang").asc,
          org.apache.spark.sql.functions.col("detected").asc)),
    "langid_counts" -> ((s, d) =>
      graft.functions.LangId
        .withDetected(graft.Tables.documentsDense(s, d), "text")
        .groupBy("detected").count()
        .orderBy(org.apache.spark.sql.functions.col("detected").asc)),
    "chunks_fixed" -> ((s, d) => TextOps.chunksFixed(s, d, 120, 30)),
    "chunks_ref_summary" -> ((s, d) => Chunker.chunkSummary(s, d, 100, 20)),
    // the FULL boundary-snapping chunker, hash-gated via a recursive
    // CTE oracle that walks the same (start, index) recurrence
    "chunks_ref" -> ((s, d) => Chunker.chunkRows(s, d, 100, 20)),
    "p7_chunk_enrich" -> ((s, d) => TextOps.chunkEnrichment(s, d, 120, 30)),
    "pipeline_e2e" -> ((s, d) =>
      DocumentPipeline.ingestLineage(s, d, 120, 30)),
    // dedup suite (training-data ops)
    "dedup_embcos" -> ((s, d) => Similarity.embCosinePairs(s, d, 0.6, 32)),
    "dedup_exact" -> ((s, d) => Dedup.exactNormalized(s, d)),
    // the curation VERDICT: one decision per doc under the fixed
    // precedence exact_dup > near_dup > quality > keep, rolled up per
    // (source, decision)
    "curation_decisions" -> ((s, d) =>
      Dedup.curationDecisions(s, d, 0.5)),
    // the curation APPLY: the surviving curated corpus itself —
    // keep-decision docs with duplicated spans re-mined and removed
    // among survivors, each doc's cleaned text pinned by md5
    "curation_apply" -> ((s, d) => Dedup.curationApply(s, d, 0.5)),
    // per-source reconciliation (counts must equal curation_decisions)
    // + one md5 over the whole cleaned curated corpus
    "curation_apply_digest" -> ((s, d) =>
      Dedup.curationApplyDigest(s, d, 0.5)),
    "dedup_minhash" -> ((s, d) => Dedup.minhashPairs(s, d, 0.5)),
    "dedup_simhash" -> ((s, d) => Dedup.simhash(s, d)),
    "dedup_shingles" -> ((s, d) => Dedup.shingleJaccardPairs(s, d, 0.05)),
    // connected components over the near-dup graph: canonical-doc
    // selection (keep cluster minimum)
    "dedup_clusters" -> ((s, d) => Dedup.nearDupClusters(s, d, 0.5)),
    // the dedup pass's deliverable: per-source kept/removed doc+char
    // counts after near-dup removal
    "dedup_reduction" -> ((s, d) => Dedup.dedupReduction(s, d, 0.5)),
    // Hamming-banded simhash pairs (pigeonhole-complete for dist < 4;
    // dist <= 1 keeps the 16-bit fingerprint selective)
    "dedup_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(s, d, 1)),
    // benchmark-contamination screen: n-gram overlap vs a held-out slice
    "contamination_ngram" -> ((s, d) => Contamination.screen(s, d, 97L)),
    // the training-set RELEASE: curated survivors minus the benchmark
    // slice and anything sharing a verbatim n-gram with it, one
    // release_md5 per source pinning the shipped corpus
    "release_manifest" -> ((s, d) =>
      Contamination.releaseManifest(s, d, 0.5, 97L)),
    // char-level confirmation of the Jaccard-verified near-dup pairs
    "dedup_editdist" -> ((s, d) =>
      Dedup.editDistancePairs(s, d, 0.5, 240, 60)),
    // duplicated verbatim 5-token spans across documents (fixed-n
    // approximation of exact-substring dedup)
    "dedup_spans" -> ((s, d) => Dedup.duplicatedSpans(s, d, 100)),
    // variable-length exact-substring dedup (suffix-grouping form):
    // maximal cross-doc duplicated runs, levels 5..10, capped at 10
    "dedup_substrings" -> ((s, d) =>
      Dedup.maximalDuplicatedSubstrings(s, d, 5, 10, 100)),
    // the Lee et al. REMOVAL transform: cleaned-corpus digests
    "dedup_span_removal" -> ((s, d) => Dedup.removeDuplicatedSpans(s, d)),
    "dedup_span_coverage" -> ((s, d) => Dedup.spanCoverage(s, d)),
    "dedup_canonical" -> ((s, d) => Dedup.canonicalByQuality(s, d, 0.5)),
    "source_leakage" -> ((s, d) => Dedup.sourceLeakage(s, d)),
    // ingestion-time dedup: new batch probed against the corpus index
    "dedup_incremental" -> ((s, d) => Dedup.minhashIncremental(s, d, 0.5)),
    // contrastive training triplets off the verified near-dup structure
    "training_triplets" -> ((s, d) => Dedup.trainingTriplets(s, d, 0.5)),
    // integer-exact PageRank over the minhash candidate graph:
    // centrality-based canonical-doc selection
    "graph_triangles" -> ((s, d) =>
      GraphOps.triangleStats(s, d, 0.3)),
    "pagerank_dups" -> ((s, d) => GraphOps.pagerankDups(s, d, 0.5, 20)),
    // SemDeDup shape: integer k-means over embeddings + within-cluster
    // near-pair scan (bit-reproducible Lloyd iterations, no doubles)
    "kmeans_clusters" -> ((s, d) => Clustering.kmeansClusters(s, d, 8)),
    // clustering-quality gate: integer simplified silhouette per
    // cluster (the fit family's missing quality gate)
    "kmeans_silhouette" -> ((s, d) =>
      Clustering.kmeansSilhouette(s, d, 8)),
    // two-level k-means: the past-the-driver-bound route, exercised
    // at fixture scale under an explicit 4x4 factorization
    "kmeans_hier" -> ((s, d) => Clustering.kmeansHierClusters(s, d, 4, 4)),
    // distributed BPE tokenizer training: 8 merge steps over the
    // corpus word-frequency table (fold-rewrite, bounded collects)
    "bpe_merges" -> ((s, d) => Bpe.bpeMerges(s, d)),
    // the tokenizer applied: corpus frequency of the learned vocab
    "bpe_vocab" -> ((s, d) => Bpe.bpeVocab(s, d, 20)),
    // content-defined chunking: rolling-hash boundaries, per-source
    // rollup (storage-dedup CDC — scan-local, no boundary state chain)
    "cdc_chunks" -> ((s, d) => Chunker.cdcChunks(s, d, 64)),
    // per-source compression under the learned tokenizer (vocab fit)
    "bpe_compression" -> ((s, d) => Bpe.bpeCompression(s, d)),
    // DSIR importance weights: target-domain vs corpus LM log-ratio
    "dsir_weights" -> ((s, d) => Sampling.dsirWeights(s, d, "src0", 20)),
    "semdedup_report" ->
      ((s, d) => Clustering.semdedupReport(s, d, 128L, 1100000000000L)),
    // distributed multinomial NB: training artifact + held-out confusion
    "nb_model" -> ((s, d) => Classifier.nbModel(s, d, 3)),
    "nb_confusion" -> ((s, d) => Classifier.nbConfusion(s, d)),
    // multimodal binary-column pipeline: real BMP/WAV codecs, the
    // decoded geometry hash-gated against an independent recompute
    "mm_dimensions" -> ((s, d) => Multimodal.dimensions(s, d)),
    "mm_features" -> ((s, d) => Multimodal.featureStats(s, d)),
    // MLlib TF-IDF embedding generation + LSH ANN (not SQL-expressible
    // → rows-only check; EmbeddingsSpec carries semantics)
    "emb_tfidf_ann" -> ((s, d) => Embeddings.annSearch(s, d, 0L, 10)),
    // the family's HARD gate (r15 verdict #5): oracle-expressible
    // TF-IDF (explicit vocab, integer milli-unit weights) + SimHash
    // LSH candidates vs exact cosine re-rank — recall@10 per query doc
    "emb_tfidf_recall" -> ((s, d) =>
      Embeddings.tfidfSimhashRecall(s, d, TfidfRecallIds, 10)),
    // rows-only by design: batch-grain remote→local fallback semantics
    // are spec-gated (Round9OpsSpec); no SQL analog for a client stub
    "emb_client" -> ((s, d) => EmbeddingClient.embedSummary(s, d)),
    // retry/backoff envelope: timeout-vs-error split, attempt counts
    "emb_client_retry" -> ((s, d) =>
      EmbeddingClient.retrySummary(s, d)),
  )

  def oracleSql: Map[String, String] = Map(
    "fts_topk" -> Fts.searchOracleSql("hash join merge", "en", 10),
    "fts_topk_fr" ->
      Fts.searchLangOracleSql("le merge et la table", "fr", 10),
    "fts_topk_zh" ->
      Fts.searchLangOracleSql("the stream filter", "zh", 10),
    "fts_lang_roundtrip" -> Fts.searchLangRoutedOracleSql("hash join", 3),
    "fts_topk_norm" ->
      Fts.searchNormalizedOracleSql("hash join merge", "en", 10, 33),
    "fts_topk_stemmed" -> Fts.searchStemmedOracleSql("merging streams", "en", 10),
    "fts_topk_cd" ->
      Fts.searchCoverDensityOracleSql("hash join merge", "en", 10),
    "fts_phrase" -> Fts.phraseSearchOracleSql("hash join", "en", 10),
    "fts_bm25" -> Fts.searchBm25OracleSql("hash join merge", "en", 10),
    "fts_endpoint" ->
      Fts.searchEndpointOracleSql("hash join merge", "en", "80", 0.79, 10),
    "fts_termstats" -> Fts.termStatsOracleSql,
    "fts_prefix" -> Fts.prefixSearchOracleSql("ha", 10),
    "keywords_tfidf" -> Fts.keywordsTfidfOracleSql(3),
    "fts_headline" -> Fts.headlinesOracleSql("hash join merge", "en", 10, 5),
    "fts_batch" -> Fts.batchSearchOracleSql(BatchQueries, "en", 5),
    "fts_by_collection" ->
      Fts.searchPerCollectionOracleSql("hash join", 5),
    // same semantics as fts_topk — the rewrite only changes join order
    "fts_rarest_first" -> Fts.searchOracleSql("hash join merge", "en", 10),
    "fts_suffix" -> Fts.suffixSearchOracleSql("er", 10),
    "fts_infix" -> Fts.infixSearchOracleSql("as", 10),
    "fts_complete" -> Fts.completeTermsOracleSql("s", 10),
    "fts_delete_termstats" -> Fts.termStatsAfterDeleteOracleSql(7L),
    // vacuum ≡ merge-on-read: the SAME oracle SQL as the delete form
    "fts_vacuum_termstats" -> Fts.termStatsAfterDeleteOracleSql(7L),
    "fts_vacuum_stemstats" -> Fts.stemmedTermStatsVacuumedOracleSql(7L),
    "fts_vacuum_suffix" -> Fts.suffixSearchVacuumedOracleSql("er", 7L, 10),
    "fts_vacuum_langstats" -> Fts.langRoutedStatsVacuumedOracleSql(7L),
    "fts_vacuum_bm25stats" -> Fts.bm25StatsVacuumedOracleSql(7L),
    "fts_vacuum_facets" ->
      Fts.facetedSearchVacuumedOracleSql("hash join", 7L),
    "fts_df_histogram" -> Fts.dfHistogramOracleSql,
    "emb_pca_power" -> PcaPower.topComponentOracleSql,
    "emb_label_margin" -> Similarity.labelCentroidMarginsOracleSql,
    "events_inactivity" -> EventMining.inactivityOracleSql,
    "events_mad" -> EventMining.madOutliersOracleSql,
    "cdc_scd2" -> Cdc.scd2OracleSql,
    "events_paths" -> EventMining.openingPathsOracleSql(1800L, 3, 10),
    "events_anova" -> EventMining.valueAnovaOracleSql,
    "events_benford" -> EventMining.benfordDigitsOracleSql,
    "events_gaps" -> EventMining.gapStatsOracleSql,
    "events_mix_drift" -> EventMining.typeMixDriftOracleSql,
    "events_user_entropy" -> EventMining.userEntropyOracleSql,
    "pareto_suppliers" -> Relational.paretoOracleSql(25),
    "orders_monthly" -> Relational.monthlyOrdersOracleSql,
    "vocab_concentration" -> Fts.vocabConcentrationOracleSql,
    "fts_boolean" ->
      Fts.booleanSearchOracleSql("(hash | merge) & !sort", "en", 10),
    "emb_variance" -> Similarity.dimVarianceOracleSql,
    "customer_rfm" -> Relational.customerRfmOracleSql,
    "stream_user_growth" ->
      graft.streaming.StreamBridge.streamUserGrowthOracleSql,
    "stream_custom_sessions" ->
      graft.streaming.StreamBridge.streamCustomSessionsOracleSql,
    "stream_running_totals" ->
      graft.streaming.StreamBridge.streamRunningTotalsOracleSql,
    "kanon_risk" -> Datacard.kAnonymityRiskOracleSql(5L, 100L),
    "fts_facets" -> Fts.facetedSearchOracleSql("hash join"),
    "fts_near" -> Fts.nearSearchOracleSql("hash", "merge", 8, "en", 10),
    "fts_websearch" ->
      Fts.websearchSearchOracleSql("\"hash join\" OR merge -sort", "en", 10),
    "fts_phrase_dist" ->
      Fts.phraseDistSearchOracleSql("hash", "merge", 2, "en", 10),
    "fts_prf_terms" ->
      QueryExpand.prfTermsOracleSql("hash join", "en", 5, 5),
    "fts_prf" -> QueryExpand.prfSearchOracleSql("hash join", "en", 5, 5, 10),
    "fts_mlt" -> QueryExpand.moreLikeThisOracleSql(14L, "en", 5, 10),
    "fts_fuzzy_expand" ->
      FuzzySearch.expandOracleSql(Seq("hashe", "joim", "merg"), "en", 8),
    "fts_fuzzy" ->
      FuzzySearch.fuzzySearchOracleSql("hashe joim merg", "en", 10, 8),
    "knn_cosine" -> Similarity.knnCosineOracleSql(0L, 10, 0.95),
    "knn_l2" -> Similarity.knnL2OracleSql(4, 10),
    "knn_ip" -> Similarity.knnIpOracleSql(5, 10),
    "knn_dispatch_cos" -> Similarity.knnCosineLabelOracleSql(3, 10),
    "vec_collections" -> Similarity.vectorCollectionsOracleSql,
    "p1_validate_dim" ->
      graft.operators.DocumentPipeline.validateEmbeddingDimOracleSql,
    "knn_batch" -> Similarity.knnBatchOracleSql(BatchKnnIds, 5),
    "ann_recall" -> Similarity.annRecallOracleSql(RecallIds, 5, 10),
    "ann_recall_curve" ->
      Similarity.annRecallCurveOracleSql(RecallIds, 5, 10, Seq(1, 2, 4)),
    "ivf_ann_auto" -> Similarity.ivfTopKAutoOracleSql(42L, 10),
    "ivf_batch" -> Similarity.ivfBatchOracleSql(BatchKnnIds, 5, 10),
    "ivf_ann" -> Similarity.ivfTopKOracleSql(42L, 10, 10),
    "ivf_ann_hier" ->
      Similarity.ivfTopKHierOracleSql(42L, 10, 4, 4, 2, 2),
    "ivf_delete_stats" -> Similarity.ivfDeleteStatsOracleSql(10, 7L),
    "ivf_compact_stats" -> Similarity.ivfCompactStatsOracleSql(10, 7L),
    "ivf_ann_deleted" ->
      Similarity.ivfTopKDeletedOracleSql(42L, 10, 10, 7L, 2),
    // compaction ≡ merge-on-read: the SAME oracle SQL as the tombstone
    // probe — the hash gate holds the equivalence every round
    "ivf_ann_compacted" ->
      Similarity.ivfTopKDeletedOracleSql(42L, 10, 10, 7L, 2),
    "graph_ann" ->
      GraphAnn.beamSearchAutoOracleSql(42L, 0L, 12, 16, 4, 10),
    "graph_ann_batch" ->
      GraphAnn.batchBeamSearchAutoOracleSql(BatchKnnIds, 0L, 12, 16, 4, 5),
    "gann_recall" ->
      GraphAnn.beamRecallAutoOracleSql(BatchKnnIds, 0L, 12, 16, 4, 5),
    "maxsim_topk" -> MultiVector.maxSimTopKOracleSql(3L, 50, 500L, 10),
    "maxsim_pruned" ->
      MultiVector.maxSimPrunedOracleSql(3L, 50, 500L, 10, 10),
    "emb_label_stats" -> Similarity.labelStatsOracleSql,
    "hybrid_rrf" ->
      Hybrid.rrfSearchOracleSql("hash join merge", "en", 0L, 20, 60, 10),
    "knn_quantized" -> Quantize.knnQuantizedOracleSql(0L, 10),
    "quant_stats" -> Quantize.quantStatsOracleSql,
    "quant_recall" ->
      Quantize.quantRecallOracleSql(RecallIds, 32, 200, 10),
    "knn_matryoshka" -> Similarity.knnMatryoshkaOracleSql(0L, 32, 200, 10),
    "mmr_rerank" -> Similarity.mmrRerankOracleSql(0L, 20, 8, 0.7),
    "pq_scan" -> ProductQuant.pqScanOracleSql(7L, 50, 10),
    "pq_recall" ->
      ProductQuant.pqRecallOracleSql(Seq(3L, 7L, 11L, 19L, 23L), 10),
    "ivfpq_ann" -> IvfPq.ivfPqScanOracleSql(13L, 400, 10),
    "ivfpq_batch" -> IvfPq.ivfPqBatchOracleSql(BatchKnnIds, 400, 5),
    "bq_ann" -> BinaryQuant.bqScanOracleSql(7L, 50, 10),
    "bq_recall" -> BinaryQuant.bqRecallOracleSql(RecallIds, 10),
    "ivf_ann_filtered" ->
      Similarity.ivfTopKFilteredOracleSql(42L, 4, 10, 10, 3),
    "ivfpq_recall" ->
      IvfPq.ivfPqRecallOracleSql(RecallIds, 10, 400),
    "ivfpq_recall_curve" ->
      IvfPq.ivfPqRecallCurveOracleSql(RecallIds, 10, Seq(50, 200, 400)),
    "s1_collection_lookup" -> Collections.lookupOracleSql("fr"),
    "s2_collection_list" -> Collections.listOracleSql,
    "alt_schema_embeddings" -> LegacySchema.embeddingsViewOracleSql,
    "alt_schema_documentation" ->
      LegacySchema.documentationViewOracleSql,
    "emb_client_retry" -> EmbeddingClient.retrySummaryOracleSql(),
    "s3_pagination" -> Relational.paginateOracleSql(50, 100),
    "s3_pagination_scoped" ->
      Relational.paginateCollectionOracleSql("en", 50, 100),
    "s3_pagination_ids" ->
      Relational.paginateByIdsOracleSql(PaginationIds, 25, 5),
    "s3_keyset" -> Relational.paginateKeysetOracleSql(240L, 25),
    "s5_delete_antijoin" -> Relational.deleteSurvivorsOracleSql,
    "s4_append_state" -> Collections.appendStateDigestOracleSql,
    "s7_servicenow_xml" -> graft.sources.ServiceNowXml.roundTripOracleSql,
    "jsonl_roundtrip" ->
      graft.sources.JsonlStore.roundTripDigestOracleSql,
    "s6_cascade_delete" -> Collections.cascadeDeleteOracleSql("de"),
    "q1_pricing" -> Relational.q1OracleSql,
    "q3_shipping" -> Relational.q3OracleSql,
    "q4_semijoin" -> Relational.q4OracleSql,
    "q5_nation_revenue" -> Relational.q5OracleSql,
    "q6_forecast" -> Relational.q6OracleSql,
    "q7_volume" -> Relational.q7OracleSql,
    "q8_mktshare" -> Relational.q8OracleSql,
    "q10_returned" -> Relational.q10OracleSql,
    "q13_custdist" -> Relational.q13OracleSql,
    "q14_promo" -> Relational.q14OracleSql,
    "q15_topsupplier" -> Relational.q15OracleSql,
    "q17_smallqty" -> Relational.q17OracleSql,
    "q18_bigorders" -> Relational.q18OracleSql(300.0),
    "q22_prospects" -> Relational.q22OracleSql,
    "q19_disjunctive" -> Relational.q19OracleSql,
    "agg_gsets" -> Relational.groupingSetsOracleSql,
    "agg_distinct" -> Relational.distinctAggOracleSql,
    "agg_rollup" -> Relational.rollupOracleSql,
    "agg_cube" -> Relational.cubeOracleSql,
    "set_ops" -> Relational.setOpsOracleSql,
    "win_top_orders" -> Relational.topOrdersOracleSql,
    "win_topk_scale" -> Relational.topOrdersOracleSql,
    "win_running" -> Relational.runningOrderStatsOracleSql,
    "win_rolling" -> Relational.rollingUserStatsOracleSql(10),
    "win_ntile" -> Relational.customerDecilesOracleSql,
    "win_ntile_scale" -> Relational.customerDecilesScaleOracleSql,
    "win_percentile" -> Relational.segmentPercentilesOracleSql,
    "join_bloom_prune" -> ScaleOps.bloomPrunedRevenueOracleSql,
    "agg_status_tally" -> Relational.statusTallyOracleSql,
    "jobs_progress" -> graft.jobs.JobLedger.jobProgressOracleSql,
    "jobs_tally" -> graft.jobs.JobLedger.jobTallyOracleSql,
    "jobs_recent" -> graft.jobs.JobLedger.jobsRecentOracleSql(10),
    "events_tumbling" -> Relational.eventsTumblingOracleSql,
    "events_tumbling_stream" -> Relational.eventsTumblingOracleSql,
    "stream_index_termstats" -> Fts.termStatsOracleSql,
    "stream_ivfpq_append" -> IvfPq.streamedCellsOracleSql(),
    "events_late_drop_stream" ->
      graft.streaming.StreamBridge.eventsLateDropOracleSql,
    "stream_click_attrib" ->
      graft.streaming.StreamBridge.clickAttributionOracleSql(3600L),
    "events_sessions_stream" ->
      graft.streaming.StreamBridge.eventsSessionsStreamOracleSql,
    "events_dedup_stream" ->
      graft.streaming.StreamBridge.eventsDedupStreamOracleSql,
    "events_sessions" -> Relational.eventSessionsOracleSql(1800L),
    "events_sliding" -> Relational.eventsSlidingOracleSql,
    "events_funnel" -> Relational.eventsFunnelOracleSql,
    "events_retention" -> Relational.eventsRetentionOracleSql,
    "agg_pivot" -> Relational.pivotOracleSql,
    "agg_unpivot" -> Relational.unpivotOracleSql,
    "q21_sole_blame" -> Relational.q21OracleSql,
    "q16_supplier_cnt" -> Relational.q16OracleSql,
    "q20_excess" -> Relational.q20OracleSql,
    "q2_min_price" -> Relational.q2OracleSql,
    "part_price_cv" -> Relational.partPriceCvOracleSql(20),
    "len_quantiles" -> Datacard.lengthQuantilesByLangOracleSql,
    "sample_aes" -> Sampling.aesSampleOracleSql(20),
    "q11_important" -> Relational.q11OracleSql(1.05),
    "agg_stringagg" -> Relational.sourcesPerLangOracleSql,
    "agg_share" -> Relational.revenueShareOracleSql,
    "table_stats" -> ScaleOps.columnStatsOracleSql,
    "graph_triangles" -> GraphOps.triangleStatsOracleSql(0.3),
    "asof_latest_order" -> Relational.asofOracleSql,
    "asof_custom_op" -> Relational.asofOracleSql,
    "range_join_counts" -> Relational.rangeJoinOracleSql(3600L),
    "sketch_countmin" -> Sketches.countMinOracleSql(CountMinProbeTerms),
    "events_quantiles" -> Sketches.eventQuantilesOracleSql,
    "sketch_hdr_quantiles" ->
      Sketches.hdrQuantilesOracleSql(Seq(500, 900, 990, 999)),
    "sketch_hll" -> Sketches.hllOracleSql,
    "sketch_bloom" -> Sketches.bloomOracleSql(BloomProbeIds),
    "events_histogram" -> Sketches.valueHistogramOracleSql(0.0, 50.0, 10),
    "events_outliers" -> Sketches.valueOutliersOracleSql(3.0),
    "sample_hashed" -> Sampling.sampleSummaryOracleSql(0.1),
    "split_assign" -> Sampling.splitAssignOracleSql(0.8, 0.1),
    "split_leakage" -> Sampling.splitLeakageOracleSql(0.5, 0.8, 0.1),
    "sample_stratified" -> Sampling.stratifiedQuotaOracleSql(20),
    "eval_holdout" -> Sampling.evalHoldoutOracleSql(5),
    "sample_quota_scale" -> Sampling.stratifiedQuotaScaleOracleSql(20),
    "select_budget" -> Sampling.selectBudgetOracleSql(10000L),
    "merge_upsert" -> Cdc.mergeUpsertOracleSql,
    "cdc_timestamps" -> Cdc.mergeTimestampsOracleSql,
    "events_changepoints" ->
      Changepoints.eventsChangepointsOracleSql(6, 50),
    "sample_weighted" -> Sampling.weightedSampleOracleSql(0.2),
    "zorder_key" -> ScaleOps.zorderEventKeysOracleSql(50),
    "drift_psi" -> Drift.psiOracleSql(10),
    "ab_test" -> Experiment.abTestOracleSql(14L),
    "events_transitions" -> EventMining.transitionsOracleSql(1800L),
    "events_basket" -> EventMining.basketRulesOracleSql(1800L),
    "events_ewma" -> EventMining.ewmaDailyOracleSql(0.3),
    "events_acf" -> EventMining.acfDailyOracleSql(7),
    "events_user_growth" -> EventMining.userGrowthOracleSql,
    "events_time_to_convert" -> EventMining.timeToConvertOracleSql,
    "events_dow" -> EventMining.dowProfileOracleSql,
    "zipf_fit" -> Fts.zipfFitOracleSql,
    "csv_roundtrip" -> graft.sources.CsvStore.roundTripDigestOracleSql,
    "hybrid_linear" ->
      Hybrid.linearSearchOracleSql("hash join merge", "en", 0L, 20, 0.6, 10),
    "agg_salted" -> ScaleOps.saltedSuppAggOracleSql,
    "agg_salted_distinct" -> ScaleOps.saltedDistinctUsersOracleSql,
    "bucketed_revenue" -> ScaleOps.bucketedRevenueOracleSql(10),
    "table_digest" -> ScaleOps.tableDigestsOracleSql,
    "skew_stats" -> ScaleOps.joinKeySkewOracleSql(10),
    "quality_repetition" -> TextOps.repetitionStatsOracleSql,
    "quality_unigram_lm" -> QualityLm.unigramNllOracleSql,
    "quality_bigram_lm" -> Ngrams.bigramNllOracleSql(),
    "pmi_collocations" -> Ngrams.pmiOracleSql(),
    "quality_gopher" -> TextOps.gopherQualityOracleSql,
    "curation_report" -> QualityLm.curationReportOracleSql,
    "quality_ppl_buckets" -> QualityLm.pplBucketsOracleSql,
    "mix_weights" -> Sampling.mixWeightsOracleSql,
    "mix_weights_temp" ->
      Sampling.mixWeightsTempOracleSql(Seq(1.0, 2.0, 5.0)),
    "meta_filter_coerce" -> TextOps.metadataFilterOracleSql("k", "42"),
    "meta_filter_range" ->
      TextOps.metadataRangeFilterOracleSql("k", 25L, 75L),
    "meta_vacuum_range" ->
      TextOps.metadataRangeFilterVacuumedOracleSql("k", 25L, 75L, 7L),
    "p1_validate" -> DocumentPipeline.validateOracleSql,
    "p1_validate_meta" -> DocumentPipeline.validateWithMetadataOracleSql,
    "p2_docid" -> TextOps.deterministicIdsOracleSql,
    "p3_preprocess" -> DocumentPipeline.preprocessDigestOracleSql,
    "p4_metadata" -> DocumentPipeline.extractMetadataOracleSql,
    "text_stats" -> TextOps.textStatsOracleSql,
    "diversity_report" -> TextOps.diversityReportOracleSql,
    "redact_pii" -> TextOps.redactPiiOracleSql,
    "token_accounting" -> TextOps.tokenAccountingOracleSql,
    "corpus_datacard" -> Datacard.corpusDatacardOracleSql,
    "retrieval_ndcg" ->
      RetrievalEval.ndcgOracleSql("hash join merge", "en", 10),
    "pack_sequences" -> TextOps.packSequencesOracleSql(2048L),
    "fingerprint_winnow" -> TextOps.winnowOracleSql,
    "dedup_ppjoin" -> Dedup.ppjoinOracleSql(0.5),
    "dedup_lsh_eval" -> Dedup.lshRecallEvalOracleSql(0.5),
    "langid_confusion" ->
      s"""SELECT lang,
         |  ${graft.functions.LangId.sqlDetectExpr("text")} AS detected,
         |  count(*) AS count
         |FROM documents GROUP BY 1, 2
         |ORDER BY lang ASC, detected ASC""".stripMargin,
    "langid_counts" ->
      s"""SELECT ${graft.functions.LangId.sqlDetectExpr("text")} AS detected,
         |  count(*) AS count
         |FROM documents GROUP BY 1 ORDER BY detected ASC""".stripMargin,
    "chunks_fixed" -> TextOps.chunksFixedOracleSql(120, 30),
    "chunks_ref" -> Chunker.chunkRowsOracleSql(100, 20),
    "chunks_ref_summary" -> Chunker.chunkSummaryOracleSql(100, 20),
    "p7_chunk_enrich" -> TextOps.chunkEnrichmentOracleSql(120, 30),
    "pipeline_e2e" -> DocumentPipeline.ingestLineageOracleSql(120, 30),
    "dedup_embcos" -> Similarity.embCosinePairsOracleSql(0.6, 32),
    "dedup_exact" -> Dedup.exactNormalizedOracleSql,
    "curation_decisions" -> Dedup.curationDecisionsOracleSql(0.5),
    "curation_apply" -> Dedup.curationApplyOracleSql(0.5),
    "curation_apply_digest" -> Dedup.curationApplyDigestOracleSql(0.5),
    "dedup_minhash" -> Dedup.minhashPairsOracleSql(0.5),
    "dedup_simhash" -> Dedup.simhashOracleSql,
    "dedup_shingles" -> Dedup.shingleJaccardOracleSql(0.05),
    "dedup_clusters" -> Dedup.nearDupClustersOracleSql(0.5),
    "dedup_reduction" -> Dedup.dedupReductionOracleSql(0.5),
    "dedup_simhash_pairs" -> Dedup.simhashPairsOracleSql(1),
    "contamination_ngram" -> Contamination.screenOracleSql(97L),
    "release_manifest" ->
      Contamination.releaseManifestOracleSql(0.5, 97L),
    "dedup_editdist" -> Dedup.editDistancePairsOracleSql(0.5, 240, 60),
    "dedup_spans" -> Dedup.duplicatedSpansOracleSql(100),
    "dedup_substrings" ->
      Dedup.maximalDuplicatedSubstringsOracleSql(5, 10, 100),
    "dedup_span_removal" -> Dedup.removeDuplicatedSpansOracleSql,
    "dedup_span_coverage" -> Dedup.spanCoverageOracleSql,
    "dedup_canonical" -> Dedup.canonicalByQualityOracleSql(0.5),
    "source_leakage" -> Dedup.sourceLeakageOracleSql,
    "dedup_incremental" -> Dedup.minhashIncrementalOracleSql(0.5),
    "training_triplets" -> Dedup.trainingTripletsOracleSql(0.5),
    "pagerank_dups" -> GraphOps.pagerankDupsOracleSql(0.5, 20),
    "kmeans_clusters" -> Clustering.kmeansClustersOracleSql(8),
    "kmeans_silhouette" -> Clustering.kmeansSilhouetteOracleSql(8),
    "kmeans_hier" -> Clustering.kmeansHierClustersOracleSql(4, 4),
    "bpe_merges" -> Bpe.bpeMergesOracleSql,
    "bpe_vocab" -> Bpe.bpeVocabOracleSql(20),
    "cdc_chunks" -> Chunker.cdcChunksOracleSql(64),
    "bpe_compression" -> Bpe.bpeCompressionOracleSql,
    "dsir_weights" -> Sampling.dsirWeightsOracleSql("src0", 20),
    "semdedup_report" ->
      Clustering.semdedupReportOracleSql(128L, 1100000000000L),
    "nb_model" -> Classifier.nbModelOracleSql(3),
    "nb_confusion" -> Classifier.nbConfusionOracleSql,
    "mm_dimensions" -> Multimodal.dimensionsOracleSql,
    "mm_features" -> Multimodal.featureStatsOracleSql,
    "emb_tfidf_recall" ->
      Embeddings.tfidfSimhashRecallOracleSql(TfidfRecallIds, 10),
    "quality_compress" -> TextOps.compressionNoveltyOracleSql,
    // Omitted (rows-only checks, semantics carried by ScalaTest):
    //   emb_tfidf_ann — MLlib murmur3 hashing/IDF/LSH aren't reasonably
    //     SQL-expressible
    //   s9_relation_size — engine-specific parquet footprints by design
    // (quality_compress's REAL zlib signal has no SQL twin either —
    //  the registered query is the owned LZ-novelty estimator, and
    //  WinnowSpec rank-correlates the two)
  )
}
