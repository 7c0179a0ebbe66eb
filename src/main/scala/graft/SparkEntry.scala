package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkFiles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents
import graft.link.Mentions
import graft.synth.PageSynth
import graft.triples.TripleExtract

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` covers the operator inventory of SURVEY.md §2: every operator
  * the reference implements (scan, projection, computed scalar, validation
  * filter, dedup, distinct) re-expressed Spark-first, plus the operators the
  * KG pipeline adds (joins, aggregation, window, sort/top-k, set ops,
  * connected components, linking). SQL-expressible entries carry a DuckDB
  * oracle over the same parquet tables; KG-pipeline entries run on the
  * deterministic synthesized pages table (rows-only check) and are exactly
  * verified in `sbt test` against golden fixtures instead.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** A fresh directory for one query body's tables, under the driver's
    * per-context scratch directory (`SparkFiles.getRootDirectory`), which
    * Spark deletes when the context stops and at JVM exit. The returned
    * frames are lazy and read those tables, so nothing deletes them sooner.
    */
  private def scratch(tag: String): String =
    Files.createTempDirectory(Paths.get(SparkFiles.getRootDirectory()), s"$tag-").toString

  /** `body` with `confs` set on the session; each is restored (or unset)
    * afterwards. A body that returns a frame materializes it first, so the
    * restore cannot re-plan it.
    */
  private def scoped[A](s: SparkSession, confs: (String, String)*)(body: => A): A = {
    val prior = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Row count and `sum(v)` per `k`, ordered by `k`, materialized: the
    * result every table-format query below hands the oracle compare.
    */
  private def countSumBy(df: DataFrame, k: String): DataFrame =
    df.groupBy(col(k))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
      .orderBy(col(k))
      .localCheckpoint()

  /** The confs that mount a [[graft.sources.v2.GraftCatalog]] named `name`
    * over `warehouse`.
    */
  private def catalog(name: String, warehouse: String): Seq[(String, String)] = Seq(
    s"spark.sql.catalog.$name" -> classOf[graft.sources.v2.GraftCatalog].getName,
    s"spark.sql.catalog.$name.warehouse" -> warehouse)

  /** Flagship: full KG build on synthesized pages — returns the canonical
    * edge (triple) table. Driver smoke-checks rows > 0 on sf0.001. The
    * build's own pass ([[Pipeline.canonicalTriples]]) with the dedup the
    * bucketed writer applies in its shuffle.
    */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.canonicalTriples(kgPages(spark), PipelineConfig().ccLocalThreshold)
      .dropDuplicates("subj", "pred", "obj", "url").toDF

  /** Shared KG sub-pipeline for the kg_* query entries (deterministic,
    * independent of sfDir).
    */
  private[graft] def kgPages(s: SparkSession) = {
    import s.implicits._
    PageSynth.pages(s, 42L, 400L, 8).map(p =>
      Page(p.url, p.warc_ts, p.html,
        graft.extract.HtmlText.extract(p.html), p.lang))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference operator inventory over driver tables (oracle-backed) --
    "s1_scan_project" -> ((s, dir) => {
      // S1+P1: partitioned scan with projection+predicate pushdown.
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .where(col("lang") === "en")
    }),
    "p4_collection_name" -> ((s, dir) => {
      // P4: `@collection_name` = substring of id before first '/', with the
      // reference's missing-id fallback literal (graph_loader.rs:51-56 and
      // the "n/A - _id is missing" branch at :720-730). The planted null
      // (doc_id 0) exercises the fallback through the oracle.
      t(s, dir, "documents")
        .withColumn("id",
          when(col("doc_id") === 0L, lit(null).cast("string"))
            .otherwise(concat(col("source"), lit("/"), col("doc_id").cast("string"))))
        .select(col("doc_id"), col("id"),
          coalesce(substring_index(col("id"), "/", 1),
            lit("n/A - _id is missing")).as("collection"))
    }),
    "f1_validation_filter" -> ((s, dir) => {
      // F1: reject malformed rows (reference hard-fails; we count + filter).
      t(s, dir, "documents")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("text").isNotNull && length(col("text")) > 0, 1L)
            .otherwise(0L)).as("n_valid"))
    }),
    "a1_distinct" -> ((s, dir) =>
      // A1/A2: distinct (field-union / collection-name dedup analog).
      t(s, dir, "documents").select(col("lang")).distinct()),
    "q_agg_group" -> ((s, dir) =>
      t(s, dir, "documents").groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"))),
    "q_join_broadcast" -> ((s, dir) => {
      // Entity-link-shaped join: big fact × small broadcast dim.
      val orders = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      orders.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .select(col("segment"), col("n_orders"), col("revenue"))
    }),
    "q_join_sortmerge" -> ((s, dir) => {
      // Large-large join → shuffle (sort-merge/shuffled-hash under AQE).
      val li = t(s, dir, "lineitem")
      val orders = t(s, dir, "orders")
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
    }),
    "q_window_topk" -> ((s, dir) => {
      // TWO-PHASE top-k (VERDICT r5 "What's wrong" #3): a window
      // partitioned by `lang` alone puts each language's ENTIRE corpus in
      // one task — a single-task partition at web scale (few languages,
      // billions of rows each). Phase 1 takes a local top-3 per
      // (lang, input partition) — the exchange hashes on BOTH columns, so
      // it stays balanced no matter how skewed languages are; phase 2
      // re-ranks the ≤ 3·P·|langs| survivors (tiny) for the exact global
      // row_number. Identical result to the one-window form.
      val local = Window.partitionBy(col("lang"), col("__p"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      val global = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      t(s, dir, "documents")
        .withColumn("__p", spark_partition_id())
        .withColumn("rn", row_number().over(local))
        .where(col("rn") <= 3)
        .withColumn("rn", row_number().over(global))
        .where(col("rn") <= 3)
        .select(col("lang"), col("doc_id"), col("n_chars"), col("rn"))
    }),
    "q_sort_limit" -> ((s, dir) =>
      t(s, dir, "documents")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
        .select(col("doc_id"), col("n_chars"))
        .limit(10)),
    "q_set_ops" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.where(col("lang") === "en").select(col("doc_id"))
        .except(d.where(col("n_chars") < 150).select(col("doc_id")))
    }),
    "dedup_exact" -> ((s, dir) =>
      // Exact dedup, fingerprint-first (~30 B/row shuffle, not the text —
      // see Dedup.exact's doc); keep min doc_id per content group.
      ops.Dedup.exact(t(s, dir, "documents"), "doc_id", "text")),

    "q_date_funcs" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"))
        .groupBy(dayofweek(col("ts")).as("dow"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          date_format(min(to_date(col("ts"))), "yyyy-MM-dd").as("first_day"))),
    "q_string_funcs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          upper(substring(col("text"), 1, 12)).as("head_upper"),
          length(translate(col("text"), "aeiou", "")).as("n_consonant_chars"),
          concat_ws("|", col("lang"), col("source")).as("tag"))),
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "documents")
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .select(col("lang"), col("source"), col("n_docs"), col("total_chars"))),
    "q_anti_join" -> ((s, dir) => {
      // F2 analog: partition-level anti-semantics → left_anti join
      // (reference excludes duplicate `_to_c` shards, sharding.rs:326-341).
      val cust = t(s, dir, "customer")
      val orders = t(s, dir, "orders").select(col("o_custkey"))
      cust.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q_semi_join" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val orders = t(s, dir, "orders").select(col("o_custkey"))
      cust.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_customers_with_orders"))
    }),
    "q_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .where(col("k") >= 50)),
    "kg_catalog" -> ((s, _) =>
      // S3/A1/A2: catalog walk — explode edge definitions, distinct, sort.
      ops.GraphCatalog.vertexCollections(ops.GraphCatalog.fixtureDefinitions(s))),
    "kg_catalog_custom" -> ((s, dir) => {
      // Generalized catalog: edge definitions DERIVED from a data table
      // (non-fixture) — one edge collection per source, from = the langs
      // present in that source, to = a doc collection. Proves the catalog
      // walk works over arbitrary definition DataFrames.
      val defs = t(s, dir, "documents")
        .groupBy(col("source").as("collection"))
        .agg(collect_set(col("lang")).as("from"),
          array(lit("doc")).as("to"))
      ops.GraphCatalog.vertexCollections(defs)
    }),
    "q_open_schema" -> ((s, dir) => {
      // All-attributes mode (reference load_all_vertex_attributes,
      // /root/reference/src/config.rs:88-95): fold columns into a props
      // map, then project typed values back out — round-trip must equal
      // the direct projection.
      val open = ops.OpenSchema.allAttributes(t(s, dir, "documents"), "doc_id")
      open.select(col("doc_id"),
          ops.OpenSchema.prop("lang"),
          ops.OpenSchema.prop("n_chars", "long"))
        .where(col("lang") === "en")
    }),
    "dedup_minhash_sketch" -> ((s, dir) => {
      // Custom Aggregator: per-source corpus minhash sketch (element-wise
      // min is the exact sketch of the shingle-set union), then BANDED
      // pairing of the sketches themselves — never the G² cross join
      // (that remains only as the small-G oracle OpsSpec checks equality
      // against).
      val sketches = ops.Dedup.minhashSketches(
        t(s, dir, "documents"), "source", "text")
      ops.Dedup.minhashSketchPairs(sketches)
        .orderBy(col("est_jaccard").desc, col("src_a"), col("src_b"))
    }),
    "q_join_salted" -> ((s, dir) => {
      // Same semantics as a plain join — explicit salting for skewed keys
      // (north_rule hub-entity case); oracle proves result equivalence.
      // Project BEFORE salting: SaltedJoin's deterministic per-row salt
      // hashes the whole row, so every column handed to it is read by the
      // scan AND hashed per row — the unprojected table cost 11 columns of
      // both for a 3-column query (guide §2.3; plan evidence in
      // plans/r07/q_join_salted_{before,after}.txt). The salt value
      // changes with the projection (any value in [0, salt) is valid and
      // this one is still retry-deterministic); the join result does not.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      ops.SaltedJoin.inner(li, orders, "l_orderkey", salt = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
    }),
    "q_skew_salted" -> ((s, dir) => skewJoin(s, salted = true)),
    "q_skew_plain" -> ((s, dir) => skewJoin(s, salted = false)),
    "q_stream_window" -> ((s, dir) =>
      // True Structured Streaming run: file-source readStream + watermark
      // + windowed agg + memory sink; equals the batch SQL oracle.
      streaming.EventStream.hourlyCountsStreaming(s, s"$dir/events.parquet")),
    "q_stream_sessions" -> ((s, dir) =>
      streaming.EventStream.sessionWindows(t(s, dir, "events"))),

    // ---- training-data ops over documents/embeddings ---------------------
    "dedup_minhash_lsh" -> ((s, dir) =>
      // MinHash → banded LSH → candidate pairs → exact-jaccard verify.
      // Oracle = brute-force shingle jaccard: recall at j≥0.5 is 1-1e-8.
      ops.Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text")),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      ops.Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text")),
    "dedup_incremental" -> ((s, dir) => {
      // Incremental MinHash-LSH dedup: the corpus arrives as THREE
      // batches against a persisted signature table; the union of
      // per-batch pair emissions must equal the single-shot run — which
      // is exactly what the brute-force jaccard oracle checks.
      val d = t(s, dir, "documents")
      val state = scratch("incdedup") + "/sigs"
      val parts = (0 until 3).map(i =>
        ops.IncrementalDedup.processBatch(
          d.where(pmod(col("doc_id"), lit(3)) === i), "doc_id", "text", state))
      parts.reduce(_ union _)
    }),
    "dedup_groups" -> ((s, dir) => {
      // Pair → group resolution: near-dup pairs (the oracled jaccard set)
      // → connected components → (doc_id, group_id, keep) with the min-id
      // survivor policy, for EVERY document (singletons survive).
      val d = t(s, dir, "documents")
      ops.Dedup.resolveGroups(
        ops.Dedup.ngramJaccardPairs(d, "doc_id", "text").select(col("ia"), col("ib")),
        d, "doc_id")
    }),
    "dedup_simhash" -> ((s, dir) =>
      ops.Dedup.simhashSignatures(t(s, dir, "documents"), "doc_id", "text")),
    "dedup_embed_cosine" -> ((s, dir) =>
      ops.Dedup.embeddingCosinePairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", 0.5)),
    "ann_brute_topk" -> ((s, dir) =>
      ops.Ann.bruteForceTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10)),
    "ann_lsh_topk" -> ((s, dir) =>
      ops.Ann.lshTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10)),
    "ann_ivf_topk" -> ((s, dir) =>
      // IVF full-probe (nProbe == nCells) is provably identical to brute
      // force, so the WHOLE IVF plumbing (centroid training, cell
      // assignment, probe ranking) is oracle-checked; the pruned-probe
      // recall is spec-asserted (OpenCatalogSpec).
      ops.Ann.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10, nCells = 8, nProbe = 8)),
    "ann_lsh_indexed" -> ((s, dir) => {
      // Disk-partitioned LSH index probe (the 10^9-vector scale path):
      // partition-pruned scan over bucket=<b> dirs; equals ann_lsh_topk.
      val path = scratch("annidx") + "/index"
      ops.Ann.writeLshIndex(t(s, dir, "embeddings"), "vec_id", "embedding", path)
      ops.Ann.lshTopKIndexed(s, path, queryId = 0L, k = 10)
    }),
    "ann_lsh_full_probe" -> ((s, dir) => {
      // Full-probe over the DISK-PARTITIONED LSH index ≡ brute force (the
      // IVF full-probe trick applied to LSH): DuckDB's brute-force oracle
      // now verifies the whole indexed read path end-to-end — bucket
      // assignment, partitioned layout, probe scan, cosine ranking. The
      // approximate multiprobe path keeps its recall/equivalence specs.
      val path = scratch("annfp") + "/index"
      ops.Ann.writeLshIndex(t(s, dir, "embeddings"), "vec_id", "embedding", path)
      ops.Ann.lshTopKIndexed(s, path, queryId = 0L, k = 10, fullProbe = true)
    }),
    "ann_knn_join" -> ((s, dir) => {
      // BATCH k-NN join (the bulk-parallel pipeline shape): top-5 for a
      // whole query SET in one job — probe fan-out, one bucket equi-join,
      // per-query windowed top-k; no driver loop. Run full-probe so the
      // result is provably per-query brute force and the DuckDB oracle
      // checks the entire batch path end-to-end; the approximate multiprobe
      // keeps its recall spec (OpsSpec).
      val emb = t(s, dir, "embeddings")
      val path = scratch("knnj") + "/index"
      ops.Ann.writeLshIndex(emb, "vec_id", "embedding", path)
      ops.Ann.knnJoin(emb.where(col("vec_id") < 8), "vec_id", "embedding",
        path, k = 5, fullProbe = true)
    }),
    "ann_ivf_knn_join" -> ((s, dir) => {
      // IVF flavor of the batch k-NN join, full-probe (== per-query brute
      // force) so the cell layout + stored-centroid probe ranking + batch
      // join all sit under the same oracle as ann_knn_join.
      val emb = t(s, dir, "embeddings")
      val path = scratch("ivfknnj") + "/index"
      ops.Ann.writeIvfIndex(emb, "vec_id", "embedding", path, nCells = 8)
      ops.Ann.ivfKnnJoin(emb.where(col("vec_id") < 8), "vec_id", "embedding",
        path, k = 5, fullProbe = true)
    }),
    "embed_lsh_pairs" -> ((s, dir) =>
      ops.Ann.cosineLshPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        minCosine = 0.4)),
    "text_tokens" -> ((s, dir) =>
      ops.TextAnalysis.tokenStats(t(s, dir, "documents"), "doc_id", "text")),
    "text_subwords" -> ((s, dir) =>
      // BPE-ish pre-tokenizer counts: letter runs, digit runs, single marks.
      ops.TextAnalysis.subwordCounts(t(s, dir, "documents"), "doc_id", "text")),
    "q_percentile" -> ((s, dir) =>
      // Exact interpolated percentile (Spark `percentile` ≡ DuckDB
      // quantile_cont: same sort + linear interpolation over int inputs).
      t(s, dir, "documents").groupBy(col("lang"))
        .agg(expr("percentile(n_chars, 0.5)").as("median_chars"),
          expr("percentile(n_chars, 0.9)").as("p90_chars"))),
    "text_quality" -> ((s, dir) =>
      ops.TextAnalysis.qualityScores(t(s, dir, "documents"), "doc_id", "text")),
    "text_langid" -> ((s, dir) =>
      ops.TextAnalysis.langId(t(s, dir, "documents"), "doc_id", "text")),
    "text_fingerprint" -> ((s, dir) =>
      ops.TextAnalysis.fingerprints(t(s, dir, "documents"), "doc_id", "text")),
    "text_winnow" -> ((s, dir) =>
      ops.TextAnalysis.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id"), col("sketch_size"))),
    "multimodal_summary" -> ((s, _) => ops.Multimodal.summary(s)),
    "multimodal_image_neardup" -> ((s, _) => {
      // Perceptual-dHash image near-dup over synthesized containers (no
      // SQL oracle possible — engine-generated payloads; MediaCodecsSpec
      // carries the exact planted-variant assertions). Rows-only check:
      // every synthesized image yields a hash row.
      val media = ops.Multimodal.synthesize(s, seed = 77L, n = 120L)
      ops.Multimodal.imageDHashes(media)
        .withColumn("dhash_hex", hex(col("h")))
    }),

    // ---- KG pipeline stages on the synthesized pages table (rows-only) ---
    "kg_extract" -> ((s, _) => {
      import s.implicits._
      kgPages(s).map(p => (p.url, p.text.length, p.lang))
        .toDF("url", "text_len", "lang")
    }),
    "kg_mentions" -> ((s, _) =>
      Mentions.scan(kgPages(s), PageSynth.aliasDictionary).toDF),
    "kg_linked" -> ((s, _) => {
      import s.implicits._
      val winners = s.sparkContext.broadcast(
        Mentions.aliasWinners(PageSynth.aliasDictionary))
      Mentions.scan(kgPages(s), PageSynth.aliasDictionary)
        .flatMap(m => Mentions.linkLocal(Seq(m), winners.value)).toDF
    }),
    "kg_triples" -> ((s, _) =>
      TripleExtract.extractDirect(kgPages(s), PageSynth.aliasDictionary,
        PageSynth.relations.toMap)
        .dropDuplicates("subj", "pred", "obj", "url").toDF),
    "kg_cc" -> ((s, _) => {
      import s.implicits._
      ConnectedComponents.components(
        PageSynth.sameAs(s).toDF("src", "dst"))
    }),
    "kg_edges" -> ((s, _) => entry(s)),
    "kg_vertices" -> ((s, _) =>
      // Driver-comparable projection: the vertex table's MapType props
      // column is not hashable by the driver's canonicalizer (round-1 err),
      // so emit the flat degree property instead.
      graft.materialize.GraphOut.vertices(entry(s))
        .select(col("id"), col("label"),
          col("props")("degree").cast("long").as("degree"))),
    "kg_spj" -> ((s, _) => {
      // Storage-partitioned join of two table reads: build a small KG,
      // read edges and vertices by path (no session catalog), join them on
      // the bucket key (plans with zero exchanges — the catalog twin is
      // asserted in GraftCatalogSpec; here the driver checks the result
      // shape). The bucketing conf, and the broadcast threshold that would
      // otherwise make these small tables' join a broadcast, are scoped.
      val dir = scratch("spj")
      Pipeline.build(s, PipelineConfig(seed = 42L, nPages = 200L,
        partitions = 4, outputBuckets = 8, workDir = dir, runId = "spj"))
      scoped(s, "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val e = graft.io.IcebergishTable.read(s, s"$dir/edges")
        val v = graft.io.IcebergishTable.read(s, s"$dir/vertices")
        e.join(v, e("subj") === v("id"))
          .groupBy(v("id").as("id"))
          .agg(count(lit(1)).as("out_triples"),
            first(v("props")("degree").cast("long")).as("degree"))
          .orderBy(col("id"))
          .localCheckpoint() // eager: executes the SPJ plan NOW
      }
    }),
    "kg_writeto" -> ((s, _) => {
      // DSv2 WRITE path round trip, oracle-verified: CTAS through the
      // catalog (hidden bucket partitioning), a second append, then one
      // aggregate over the CURRENT table and one over the snapshot-pinned
      // CTAS state (time travel). DuckDB recomputes both slices from
      // range() — any row lost/duplicated/misbucketed by the write path or
      // the snapshot pinning breaks the hash compare.
      import org.apache.spark.sql.functions.bucket
      val dir = scratch("wt")
      scoped(s, catalog("graft_w", dir): _*) {
        s.range(0, 1000)
          .select(concat(lit("k"), col("id") % 37).as("k"), col("id").as("v"))
          .writeTo("graft_w.t")
          .partitionedBy(bucket(4, col("k")))
          .create()
        val ctasSnap = graft.io.IcebergishTable.currentSnapshot(s"$dir/t")
        s.range(1000, 1500)
          .select(concat(lit("k"), col("id") % 37).as("k"), col("id").as("v"))
          .writeTo("graft_w.t").append()
        def agg(df: DataFrame, tag: String) = df
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
          .select(lit(tag).as("tag"), col("k"), col("n"), col("sum_v"))
        agg(s.table("graft_w.t"), "current")
          .unionAll(agg(
            s.read.option("snapshot", ctasSnap.toString).table("graft_w.t"),
            "ctas"))
          .orderBy(col("tag"), col("k"))
          .localCheckpoint() // eager: executes before the conf restore
      }
    }),
    "kg_stats_prune" -> ((s, _) => {
      // Manifest zone maps under the oracle: two appends with DISJOINT v
      // ranges (per-file min/max recorded at commit), then an aggregate
      // through the catalog whose range predicate lets planning SKIP every
      // low-range file (StatsPruningSpec asserts the file counts; here
      // DuckDB recomputes the values — a file wrongly skipped loses rows
      // and breaks the hash, a wrongly kept one is correct-but-slower).
      val dir = scratch("zm")
      scoped(s, catalog("graft_z", dir): _*) {
        def slice(a: Long, b: Long): DataFrame = s.range(a, b)
          .select(concat(lit("k"), col("id") % 19).as("k"), col("id").as("v"))
        graft.io.IcebergishTable.write(slice(0, 900), s"$dir/t", "k", 4)
        graft.io.IcebergishTable.write(slice(100000, 100900), s"$dir/t", "k", 4,
          org.apache.spark.sql.SaveMode.Append)
        s.table("graft_z.t")
          .where(col("v") >= 100000L)
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
            min(col("v")).as("min_v"), max(col("v")).as("max_v"))
          .orderBy(col("k"))
          .localCheckpoint()
      }
    }),
    "kg_meta_agg" -> ((s, _) => {
      // METADATA-ONLY aggregation under the oracle: COUNT/MIN/MAX answered
      // entirely from the manifest (per-file exact row counts + zone-map
      // bounds, DSv2 complete aggregate pushdown — zero data files read;
      // MetaAggSpec proves that by hiding the data dir). The require()
      // pins the metadata plan, and DuckDB recomputes the same values
      // from range() — a wrong manifest count/bound breaks the hash.
      val dir = scratch("mg")
      scoped(s, catalog("graft_mg", dir): _*) {
        def slice(a: Long, b: Long): DataFrame = s.range(a, b)
          .select(concat(lit("k"),
            lpad((col("id") % 37).cast("string"), 2, "0")).as("k"),
            col("id").as("v"))
        graft.io.IcebergishTable.write(slice(0, 1000), s"$dir/t", "k", 4)
        graft.io.IcebergishTable.write(slice(1000, 1300), s"$dir/t", "k", 4,
          org.apache.spark.sql.SaveMode.Append)
        val agg = s.sql("SELECT count(*) AS n, min(v) AS mn, max(v) AS mx, " +
          "min(k) AS mk, max(k) AS xk FROM graft_mg.t")
        require(agg.queryExecution.executedPlan.toString
            .contains("GraftMetaAggScan"),
          "metadata aggregation did not push to the manifest")
        agg.localCheckpoint()
      }
    }),
    "kg_eq_delete" -> ((s, _) => {
      // Equality deletes under the oracle, INCLUDING sequence scoping: a
      // blind delete-by-key (no data scan), then an append that REUSES
      // deleted keys — the re-inserted rows must survive (their files'
      // sequence exceeds the delete's) while the pre-delete rows stay
      // dead. DuckDB recomputes both eras from range().
      val dir = scratch("eqd")
      val t = s"$dir/t"
      def slice(a: Long, b: Long): DataFrame = s.range(a, b)
        .select(concat(lit("k"), col("id") % 41).as("k"), col("id").as("v"))
      graft.io.IcebergishTable.write(slice(0, 1000), t, "k", 8)
      graft.io.IcebergishTable.deleteEquality(s, t,
        s.range(0, 2).select(concat(lit("k"), col("id") + 1).as("k")), // k1,k2
        Seq("k"))
      graft.io.IcebergishTable.write(slice(1000, 1100), t, "k", 8,
        org.apache.spark.sql.SaveMode.Append)
      countSumBy(graft.io.IcebergishTable.read(s, t), "k")
    }),
    "kg_rebucket" -> ((s, _) => {
      // Partition-spec evolution under the oracle: write bucketed by k,
      // REBUCKET to (w, 4) — every row rewritten into the new layout in
      // one replace-all commit — then append under the NEW spec and
      // aggregate by w. DuckDB recomputes from range(): a row lost,
      // duplicated, or mis-bucketed by the layout migration breaks the
      // hash compare.
      val dir = scratch("rb")
      val t = s"$dir/t"
      def slice(a: Long, b: Long): DataFrame = s.range(a, b)
        .select(concat(lit("k"), col("id") % 37).as("k"),
          concat(lit("w"), col("id") % 11).as("w"), col("id").as("v"))
      graft.io.IcebergishTable.write(slice(0, 900), t, "k", 8)
      graft.io.IcebergishTable.rebucket(s, t, "w", 4)
      graft.io.IcebergishTable.write(slice(900, 1200), t, "w", 4,
        org.apache.spark.sql.SaveMode.Append)
      countSumBy(graft.io.IcebergishTable.read(s, t), "w")
    }),
    "kg_compact" -> ((s, _) => {
      // Table-maintenance round trip, oracle-verified: three bucketed
      // appends (3 file sets per bucket), then compact (rewrite one file
      // set per bucket) and expire the old snapshots (physically reclaim
      // the files only they reference). DuckDB recomputes the aggregate
      // from range() — any row lost or duplicated by the rewrite or by
      // expiry breaks the hash compare.
      val dir = scratch("cp")
      val t = s"$dir/t"
      def slice(a: Long, b: Long): DataFrame = s.range(a, b)
        .select(concat(lit("k"), col("id") % 37).as("k"), col("id").as("v"))
      graft.io.IcebergishTable.write(slice(0, 600), t, "k", 4)
      graft.io.IcebergishTable.write(slice(600, 900), t, "k", 4,
        org.apache.spark.sql.SaveMode.Append)
      graft.io.IcebergishTable.write(slice(900, 1200), t, "k", 4,
        org.apache.spark.sql.SaveMode.Append)
      graft.io.IcebergishTable.compact(s, t, 4, "k")
      graft.io.IcebergishTable.expireSnapshots(t, keepLast = 1)
      countSumBy(graft.io.IcebergishTable.read(s, t), "k")
    }),
    "kg_delete" -> ((s, _) => {
      // Row-level DELETE through BOTH physical strategies, oracle-verified:
      // a small MERGE-ON-READ delete (position tombstones, zero data files
      // rewritten) followed by a large COPY-ON-WRITE delete (touched
      // buckets rewritten, folding the tombstones for those buckets).
      // DuckDB recomputes the survivors of both from range() — a lost
      // survivor, surviving victim, or resurrected tombstoned row breaks
      // the hash compare.
      val dir = scratch("del")
      val t = s"$dir/t"
      graft.io.IcebergishTable.write(
        s.range(0, 2000).select(concat(lit("k"), col("id") % 41).as("k"),
          col("id").as("v")),
        t, "k", 8)
      graft.io.IcebergishTable.deleteWhere(s, t, col("v") % 211 === 5,
        morMaxRows = 100L) // 10 rows → MOR path
      graft.io.IcebergishTable.deleteWhere(s, t, col("v") % 7 === 3) // COW
      countSumBy(graft.io.IcebergishTable.read(s, t), "k")
    }),
    "kg_merge" -> ((s, _) => {
      // MERGE (upsert) through BOTH physical strategies in ONE table,
      // oracle-verified: a big COPY-ON-WRITE merge (touched buckets
      // rewritten) followed by a small MERGE-ON-READ merge (matched rows
      // masked by position tombstones + updates appended, zero existing
      // files touched). DuckDB recomputes the final merged state from
      // range() — a lost update, surviving replaced row, or resurrected
      // tombstoned row breaks the hash compare.
      val dir = scratch("mrg")
      val t = s"$dir/t"
      def rows(a: Long, b: Long, mult: Long) = s.range(a, b)
        .select(concat(lit("k"), col("id") % 31).as("k"),
          col("id").as("id"), (col("id") * mult).as("v"))
      graft.io.IcebergishTable.write(rows(0, 1000, 1), t, "k", 8)
      graft.io.IcebergishTable.mergeRows(t, rows(500, 1500, 10), Seq("id"))
      // 50 matches + 50 inserts, well under the MOR threshold.
      graft.io.IcebergishTable.mergeRows(t,
        rows(100, 150, 100).unionByName(rows(1600, 1650, 100)),
        Seq("id"), morMaxRows = 200L)
      countSumBy(graft.io.IcebergishTable.read(s, t), "k")
    }),
    "kg_multiwriter" -> ((s, _) => {
      // Concurrent multi-writer commits, oracle-verified: four threads
      // race disjoint appends into ONE bucketed table through the public
      // write path (explicit-file-manifest commits + CREATE_NEW CAS); the
      // final aggregate must equal DuckDB recomputing all slices from
      // range() — a clobbered or torn commit loses a slice and breaks the
      // hash compare. Deterministic under ANY interleaving: commit order
      // does not affect the union.
      val dir = scratch("mw")
      val t = s"$dir/t"
      def slice(a: Long, b: Long): DataFrame = s.range(a, b)
        .select(concat(lit("k"), col("id") % 29).as("k"), col("id").as("v"))
      graft.io.IcebergishTable.write(slice(0, 400), t, "k", 4)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (0 until 4).map { w =>
        new Thread(() => {
          try graft.io.IcebergishTable.write(
            slice(400 + w * 200L, 400 + (w + 1) * 200L), t, "k", 4,
            org.apache.spark.sql.SaveMode.Append)
          catch { case e: Throwable => errs.add(e) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(300000))
      if (!errs.isEmpty) throw errs.peek()
      countSumBy(graft.io.IcebergishTable.read(s, t), "k")
    }),
    "kg_evolve" -> ((s, _) => {
      // Schema evolution round trip, oracle-verified: write, ALTER-style
      // addColumn (metadata-only snapshot), append new-schema rows, append
      // PRE-evolution-schema rows (subset writer stays legal), then
      // aggregate the evolved table per tag (old files read the new column
      // as null) plus the pre-evolution snapshot pinned with its era
      // schema. DuckDB recomputes every slice from range().
      val dir = scratch("ev")
      val t = s"$dir/t"
      def slice(a: Long, b: Long): DataFrame = s.range(a, b)
        .select(concat(lit("k"), col("id") % 23).as("k"), col("id").as("v"))
      graft.io.IcebergishTable.write(slice(0, 800), t, "k", 4)
      val sOld = graft.io.IcebergishTable.currentSnapshot(t)
      graft.io.IcebergishTable.addColumn(t, "tag",
        org.apache.spark.sql.types.StringType)
      graft.io.IcebergishTable.write(
        slice(800, 1200).withColumn("tag",
          concat(lit("new"), (col("v") % 5).cast("string"))),
        t, "k", 4, org.apache.spark.sql.SaveMode.Append)
      graft.io.IcebergishTable.write(slice(1200, 1400), t, "k", 4,
        org.apache.spark.sql.SaveMode.Append) // pre-evolution writer
      val cur = graft.io.IcebergishTable.read(s, t)
        .groupBy(coalesce(col("tag"), lit("-")).as("tag"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
      val pinned = graft.io.IcebergishTable.readSnapshot(s, t, sOld)
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
        .select(lit("pinned").as("tag"), col("n"), col("sum_v"))
      cur.unionByName(pinned).orderBy(col("tag")).localCheckpoint()
    }),
    "kg_streamwrite" -> ((s, dir) => {
      // Native DSv2 STREAMING write path, oracle-verified end-to-end: the
      // events table streams through writeStream.toTable (AvailableNow,
      // exactly-once epoch commits) into a bucketed catalog table; a batch
      // aggregate over the table's committed state must match DuckDB
      // aggregating the same source parquet — any row lost, duplicated, or
      // misbucketed by the streaming sink breaks the hash compare.
      val base = scratch("sw")
      scoped(s, catalog("graft_sw", base): _*) {
        val cols = streaming.EventStream.source(s, s"$dir/events.parquet")
          .select(col("event_type"), col("value"), col("user_id"))
        graft.io.IcebergishTable.createEmpty(s"$base/events_sink",
          cols.schema, "event_type", 4)
        val q = cols.writeStream
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("graft_sw.events_sink")
        q.awaitTermination()
        s.table("graft_sw.events_sink")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 2).as("total_value"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("event_type"))
          .localCheckpoint() // eager: executes before the conf restore
      }
    }),
    "kg_checkpoint" -> ((s, _) => {
      // Run a small checkpointed build and return its lineage table.
      import s.implicits._
      val dir = scratch("kgck")
      Pipeline.build(s, PipelineConfig(seed = 42L, nPages = 200L,
        partitions = 4, outputBuckets = 8, workDir = dir, runId = "verify"))
      graft.materialize.Checkpoint.read(s, s"$dir/checkpoint")
        .toDF.select(col("stage"), col("part"), col("rows_out"), col("status"))
        .orderBy(col("stage"), col("part"))
    })
  )

  /** Pathological-hub join (north_rule skew case): 50% of the big side is
    * ONE key. Deterministic synthetic input expressible in both engines
    * (range + arithmetic), so the salted plan is oracle-verified against
    * DuckDB, not just against the unsalted plan.
    */
  private def skewJoin(s: SparkSession, salted: Boolean): DataFrame = {
    import s.implicits._
    val big = s.range(0, 200000L).select(
      when(col("id") % 2 === 0, lit("HUB"))
        .otherwise(concat(lit("k"), col("id") % 100)).as("key"),
      col("id").as("v"))
    val dim = s.range(0, 100L)
      .select(concat(lit("k"), col("id")).as("key"), col("id").as("grp"))
      .union(Seq(("HUB", -1L)).toDF("key", "grp"))
    val joined =
      if (salted) ops.SaltedJoin.inner(big, dim, "key", salt = 16)
      else big.join(dim, "key")
    joined.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
  }

  private val skewOracle: String =
    "WITH big AS (SELECT CASE WHEN i % 2 = 0 THEN 'HUB' " +
      "ELSE 'k' || CAST(i % 100 AS VARCHAR) END AS key, i AS v " +
      "FROM range(200000) t(i)), " +
      "dim AS (SELECT 'k' || CAST(j AS VARCHAR) AS key, j AS grp FROM range(100) t(j) " +
      "UNION ALL SELECT 'HUB', -1) " +
      "SELECT grp, count(*) AS n_rows, CAST(sum(v) AS BIGINT) AS sum_v " +
      "FROM big JOIN dim USING (key) GROUP BY grp"

  def oracleSql: Map[String, String] = Map(
    "kg_writeto" ->
      // Recompute both slices of the catalog-write round trip from range():
      // "current" = CTAS slice + append slice, "ctas" = the snapshot-pinned
      // first slice only.
      ("SELECT 'current' AS tag, 'k' || CAST(i % 37 AS VARCHAR) AS k, " +
        "count(*) AS n, CAST(sum(i) AS BIGINT) AS sum_v FROM range(1500) t(i) GROUP BY 2 " +
        "UNION ALL " +
        "SELECT 'ctas', 'k' || CAST(i % 37 AS VARCHAR), count(*), " +
        "CAST(sum(i) AS BIGINT) FROM range(1000) t(i) GROUP BY 2"),
    "kg_stats_prune" ->
      // The stats-pruned filtered aggregate = the high slice only.
      ("SELECT 'k' || CAST(i % 19 AS VARCHAR) AS k, count(*) AS n, " +
        "CAST(sum(i) AS BIGINT) AS sum_v, CAST(min(i) AS BIGINT) AS min_v, " +
        "CAST(max(i) AS BIGINT) AS max_v " +
        "FROM range(100000, 100900) t(i) GROUP BY 1"),
    "kg_meta_agg" ->
      // The manifest-answered aggregates, recomputed from the same range.
      ("SELECT CAST(count(*) AS BIGINT) AS n, CAST(min(i) AS BIGINT) AS mn, " +
        "CAST(max(i) AS BIGINT) AS mx, " +
        "min('k' || lpad(CAST(i % 37 AS VARCHAR), 2, '0')) AS mk, " +
        "max('k' || lpad(CAST(i % 37 AS VARCHAR), 2, '0')) AS xk " +
        "FROM range(0, 1300) t(i)"),
    "kg_eq_delete" ->
      // Era 1 minus the deleted keys, plus era 2 complete (re-inserts
      // survive the seq-scoped tombstone).
      ("WITH rows AS (" +
        "SELECT 'k' || CAST(i % 41 AS VARCHAR) AS k, i AS v " +
        "FROM range(1000) t(i) WHERE i % 41 NOT IN (1, 2) " +
        "UNION ALL SELECT 'k' || CAST(i % 41 AS VARCHAR), i " +
        "FROM range(1000, 1100) t(i)) " +
        "SELECT k, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v " +
        "FROM rows GROUP BY 1"),
    "kg_rebucket" ->
      // The layout migration + post-migration append must preserve rows.
      ("SELECT 'w' || CAST(i % 11 AS VARCHAR) AS w, count(*) AS n, " +
        "CAST(sum(i) AS BIGINT) AS sum_v FROM range(1200) t(i) GROUP BY 1"),
    "kg_compact" ->
      // Compaction + expiry must preserve exactly the appended rows.
      ("SELECT 'k' || CAST(i % 37 AS VARCHAR) AS k, count(*) AS n, " +
        "CAST(sum(i) AS BIGINT) AS sum_v FROM range(1200) t(i) GROUP BY 1"),
    "kg_delete" ->
      // Survivors of the MOR delete then the COW delete, recomputed.
      ("SELECT 'k' || CAST(i % 41 AS VARCHAR) AS k, count(*) AS n, " +
        "CAST(sum(i) AS BIGINT) AS sum_v FROM range(2000) t(i) " +
        "WHERE NOT (i % 211 = 5) AND NOT (i % 7 = 3) GROUP BY 1"),
    "kg_merge" ->
      // The merged state after the COW merge (ids 500-1499 → 10i) and the
      // MOR merge (ids 100-149 → 100i upsert, 1600-1649 → 100i insert).
      ("WITH rows AS (" +
        "SELECT 'k' || CAST(i % 31 AS VARCHAR) AS k, i AS id, i AS v " +
        "FROM range(500) t(i) WHERE i < 100 OR i >= 150 " +
        "UNION ALL SELECT 'k' || CAST(i % 31 AS VARCHAR), i, i * 100 " +
        "FROM range(100, 150) t(i) " +
        "UNION ALL SELECT 'k' || CAST(i % 31 AS VARCHAR), i, i * 10 " +
        "FROM range(500, 1500) t(i) " +
        "UNION ALL SELECT 'k' || CAST(i % 31 AS VARCHAR), i, i * 100 " +
        "FROM range(1600, 1650) t(i)) " +
        "SELECT k, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v " +
        "FROM rows GROUP BY 1"),
    "kg_multiwriter" ->
      // Four racing appends + the seed slice must union losslessly.
      ("SELECT 'k' || CAST(i % 29 AS VARCHAR) AS k, count(*) AS n, " +
        "CAST(sum(i) AS BIGINT) AS sum_v FROM range(1200) t(i) GROUP BY 1"),
    "kg_evolve" ->
      // Evolution must lose/invent no rows and null-fill exactly: old rows
      // (both pre-evolution writes) group under '-', new-schema rows under
      // their tags, and the pinned pre-evolution snapshot re-aggregates the
      // first slice alone.
      ("WITH rows AS (" +
        "SELECT 'k' || CAST(i % 23 AS VARCHAR) AS k, i AS v, NULL AS tag " +
        "FROM range(800) t(i) " +
        "UNION ALL SELECT 'k' || CAST(i % 23 AS VARCHAR), i, " +
        "'new' || CAST(i % 5 AS VARCHAR) FROM range(800, 1200) t(i) " +
        "UNION ALL SELECT 'k' || CAST(i % 23 AS VARCHAR), i, NULL " +
        "FROM range(1200, 1400) t(i)) " +
        "SELECT coalesce(tag, '-') AS tag, count(*) AS n, " +
        "CAST(sum(v) AS BIGINT) AS sum_v FROM rows GROUP BY 1 " +
        "UNION ALL SELECT 'pinned', count(*), CAST(sum(i) AS BIGINT) " +
        "FROM range(800) t(i)"),
    "kg_streamwrite" ->
      // The streaming sink must deliver exactly the source table's rows:
      // DuckDB recomputes the aggregate straight from the parquet the
      // stream consumed.
      ("SELECT event_type, count(*) AS n_events, " +
        "round(sum(value), 2) AS total_value, " +
        "count(DISTINCT user_id) AS n_users FROM events GROUP BY 1"),
    "q_skew_salted" -> skewOracle,
    "q_skew_plain" -> skewOracle,
    "s1_scan_project" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'",
    "p4_collection_name" ->
      ("SELECT doc_id, " +
        "CASE WHEN doc_id = 0 THEN NULL ELSE source || '/' || CAST(doc_id AS VARCHAR) END AS id, " +
        "CASE WHEN doc_id = 0 THEN 'n/A - _id is missing' " +
        "ELSE split_part(source || '/' || CAST(doc_id AS VARCHAR), '/', 1) END AS collection " +
        "FROM documents"),
    "f1_validation_filter" ->
      // CAST: DuckDB sum(int) yields HUGEINT (pandas object) — the driver's
      // type-sensitive hash then mismatches Spark's BIGINT (round-1 finding).
      ("SELECT count(*) AS n_rows, " +
        "CAST(sum(CASE WHEN text IS NOT NULL AND length(text) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid " +
        "FROM documents"),
    "a1_distinct" -> "SELECT DISTINCT lang FROM documents",
    "q_agg_group" ->
      ("SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
        "min(doc_id) AS min_doc FROM documents GROUP BY lang"),
    "q_join_broadcast" ->
      ("SELECT c_mktsegment AS segment, count(*) AS n_orders, " +
        "round(sum(o_totalprice), 2) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment"),
    "q_join_sortmerge" ->
      ("SELECT o_orderpriority, count(*) AS n_lines, " +
        "round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority"),
    "q_window_topk" ->
      ("SELECT lang, doc_id, n_chars, rn FROM (" +
        "SELECT lang, doc_id, n_chars, " +
        "row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn " +
        "FROM documents) WHERE rn <= 3"),
    "q_sort_limit" ->
      ("SELECT doc_id, n_chars FROM documents " +
        "ORDER BY n_chars DESC, doc_id ASC LIMIT 10"),
    "q_set_ops" ->
      ("SELECT doc_id FROM documents WHERE lang = 'en' " +
        "EXCEPT SELECT doc_id FROM documents WHERE n_chars < 150"),
    "dedup_exact" ->
      ("SELECT min(doc_id) AS keep_id, count(*) AS n_copies " +
        "FROM documents GROUP BY text"),
    "q_date_funcs" ->
      ("SELECT dayofweek(ts) + 1 AS dow, count(*) AS n_events, " +
        "count(DISTINCT user_id) AS n_users, strftime(min(CAST(ts AS DATE)), '%Y-%m-%d') AS first_day " +
        "FROM events GROUP BY 1"),
    "q_string_funcs" ->
      ("SELECT doc_id, upper(substr(text, 1, 12)) AS head_upper, " +
        "length(regexp_replace(text, '[aeiou]', '', 'g')) AS n_consonant_chars, " +
        "concat_ws('|', lang, source) AS tag FROM documents"),
    "q_rollup" ->
      ("SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars " +
        "FROM documents GROUP BY ROLLUP (lang, source)"),
    "q_anti_join" ->
      ("SELECT c_custkey, c_name FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"),
    "q_semi_join" ->
      ("SELECT count(*) AS n_customers_with_orders FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"),
    "q_json_extract" ->
      ("SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k " +
        "FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50"),
    "kg_catalog" ->
      ("WITH defs(collection, f, t) AS (VALUES " +
        "('acquired', ['companies'], ['companies']), " +
        "('founded_by', ['companies'], ['people', 'companies']), " +
        "('located_in', ['companies', 'people'], ['places']), " +
        "('partner_of', ['companies'], ['companies'])) " +
        "SELECT DISTINCT vertex_collection FROM (" +
        "SELECT unnest(f) AS vertex_collection FROM defs " +
        "UNION ALL SELECT unnest(t) FROM defs) ORDER BY vertex_collection"),
    "q_join_salted" ->
      ("SELECT o_orderpriority, count(*) AS n_lines, " +
        "round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority"),
    "q_stream_window" ->
      ("SELECT date_trunc('hour', ts) AS window_start, event_type, " +
        "count(*) AS n_events, round(sum(value), 2) AS total_value " +
        "FROM events GROUP BY 1, 2"),
    "q_stream_sessions" ->
      ("WITH o AS (SELECT user_id, ts, value, CASE WHEN " +
        "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL " +
        // >= : session_window is half-open [start, last+gap) — an event
        // exactly gap after the previous one starts a NEW session.
        "OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 6 HOUR " +
        "THEN 1 ELSE 0 END AS brk FROM events), " +
        "s AS (SELECT user_id, ts, value, " +
        "sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid " +
        "FROM o) " +
        "SELECT user_id, min(ts) AS session_start, count(*) AS n_events, " +
        "round(sum(value), 2) AS total_value FROM s GROUP BY user_id, sid"),
    "dedup_minhash_lsh" -> ngramJaccardOracle,
    "dedup_ngram_jaccard" -> ngramJaccardOracle,
    "dedup_incremental" -> ngramJaccardOracle,
    "dedup_groups" ->
      // Same jaccard pair set, then a recursive-CTE min-reachable-id per
      // node (= connected-component representative); docs in no pair are
      // their own group; keep = is the group minimum.
      ("WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
        "s AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] " +
        "FOR i IN range(1, len(w) - 1)]) sh FROM d), " +
        "p AS (SELECT a.doc_id ia, b.doc_id ib FROM s a, s b " +
        "WHERE a.doc_id < b.doc_id AND " +
        "round(len(list_intersect(a.sh, b.sh))::DOUBLE / " +
        "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= 0.5), " +
        "sym AS (SELECT ia a, ib b FROM p UNION SELECT ib, ia FROM p), " +
        "nodes AS (SELECT DISTINCT a AS id FROM sym), " +
        "reach(id, r) AS (SELECT id, id FROM nodes " +
        "UNION SELECT sym.a, reach.r FROM sym JOIN reach ON sym.b = reach.id), " +
        "comp AS (SELECT id, min(r) AS g FROM reach GROUP BY id) " +
        "SELECT doc.doc_id, coalesce(comp.g, doc.doc_id) AS group_id, " +
        "doc.doc_id = coalesce(comp.g, doc.doc_id) AS keep " +
        "FROM documents doc LEFT JOIN comp ON doc.doc_id = comp.id"),
    "dedup_embed_cosine" ->
      ("SELECT a.vec_id AS ia, b.vec_id AS ib, " +
        "round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine " +
        "FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id " +
        "AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.5"),
    "ann_brute_topk" ->
      ("SELECT b.vec_id, round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine " +
        "FROM embeddings a, embeddings b " +
        "WHERE a.vec_id = 0 AND b.vec_id <> 0 " +
        "ORDER BY cosine DESC, b.vec_id ASC LIMIT 10"),
    "ann_ivf_topk" ->
      // Full-probe IVF ≡ brute force (every cell probed) — same oracle.
      ("SELECT b.vec_id, round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine " +
        "FROM embeddings a, embeddings b " +
        "WHERE a.vec_id = 0 AND b.vec_id <> 0 " +
        "ORDER BY cosine DESC, b.vec_id ASC LIMIT 10"),
    "ann_lsh_full_probe" ->
      // Full-probe over the partitioned LSH index ≡ brute force.
      ("SELECT b.vec_id, round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine " +
        "FROM embeddings a, embeddings b " +
        "WHERE a.vec_id = 0 AND b.vec_id <> 0 " +
        "ORDER BY cosine DESC, b.vec_id ASC LIMIT 10"),
    // Batch full-probe ≡ per-query brute-force top-k over the query set
    // (shared by the LSH and IVF batch joins — both run full-probe).
    "ann_knn_join" -> knnJoinOracle,
    "ann_ivf_knn_join" -> knnJoinOracle,
    "text_tokens" ->
      ("SELECT doc_id, length(text) AS n_chars, " +
        "length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens, " +
        "len(string_split(text, ' ')) AS n_tokens_split FROM documents"),
    "text_quality" ->
      ("SELECT doc_id, n_chars, n_tokens, mean_word_len, stopword_ratio, " +
        "digit_ratio, punct_ratio, " +
        "least(1.0, n_tokens / 64.0) * 0.5 " +
        "+ least(1.0, stopword_ratio * 5.0) * 0.3 " +
        "+ (1.0 - least(1.0, digit_ratio * 10.0)) * 0.2 AS quality_score " +
        "FROM (SELECT doc_id, length(text) AS n_chars, " +
        "len(string_split(text, ' ')) AS n_tokens, " +
        "round((length(text) - (len(string_split(text, ' ')) - 1))::DOUBLE / len(string_split(text, ' ')), 4) AS mean_word_len, " +
        "round(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a', 'of', 'and', 'in', 'to', 'is')))::DOUBLE / len(string_split(text, ' ')), 4) AS stopword_ratio, " +
        "round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / greatest(length(text), 1), 4) AS digit_ratio, " +
        "round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))::DOUBLE / greatest(length(text), 1), 4) AS punct_ratio " +
        "FROM documents)"),
    "text_fingerprint" ->
      "SELECT doc_id, md5(text) AS fingerprint FROM documents",
    "text_subwords" ->
      ("SELECT doc_id, len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_subwords " +
        "FROM documents"),
    "q_percentile" ->
      ("SELECT lang, quantile_cont(n_chars, 0.5) AS median_chars, " +
        "quantile_cont(n_chars, 0.9) AS p90_chars FROM documents GROUP BY lang"),
    "kg_cc" -> {
      // Connected components in portable SQL: the sameAs edge list is a
      // pure function of the dictionary (PageSynth.sameAsPairs), embedded
      // as VALUES; a recursive CTE computes min-reachable-id per node —
      // exactly the star-contraction/union-find representative.
      val values = graft.synth.PageSynth.sameAsPairs
        .map { case (a, b) => s"('$a', '$b')" }.mkString(", ")
      s"WITH RECURSIVE e(a, b) AS (VALUES $values), " +
        "sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e), " +
        "nodes AS (SELECT DISTINCT a AS id FROM sym), " +
        "reach(id, r) AS (SELECT id, id FROM nodes " +
        "UNION SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.id) " +
        "SELECT id, min(r) AS component FROM reach GROUP BY id"
    },
    "kg_catalog_custom" ->
      // Derived (non-fixture) definitions: vertex collections = langs per
      // source ∪ {'doc'}, flattened, distinct, sorted — the same walk the
      // Spark catalog operator performs over the definitions DataFrame.
      ("SELECT DISTINCT vertex_collection FROM (" +
        "SELECT DISTINCT lang AS vertex_collection FROM documents " +
        "UNION ALL SELECT 'doc') ORDER BY vertex_collection"),
    "q_open_schema" ->
      // Round-trip through the props map must equal the direct projection.
      "SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'",
    "text_langid" -> {
      // Sequential-argmax language ID in SQL: score per profile = stopword
      // hit ratio (RAW double — same single IEEE division both engines);
      // winner = first profile (de,en,es,fr,it order) reaching the max;
      // max <= 0 → 'und'.
      def profile(words: Seq[String]): String =
        words.map(w => s"'$w'").mkString("(", ", ", ")")
      val de = profile(Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu"))
      val en = profile(Seq("the", "and", "of", "is", "not", "a", "with", "to", "in"))
      val es = profile(Seq("el", "la", "los", "y", "es", "no", "un", "con", "que"))
      val fr = profile(Seq("le", "la", "les", "et", "est", "pas", "un", "avec", "que"))
      val it = profile(Seq("il", "la", "e", "non", "un", "con", "che", "per", "sono"))
      def score(p: String): String =
        s"CASE WHEN len(w) = 0 THEN 0.0 ELSE " +
          s"len(list_filter(w, x -> x IN $p))::DOUBLE / len(w) END"
      "WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents), " +
        s"s AS (SELECT doc_id, ${score(de)} AS s_de, ${score(en)} AS s_en, " +
        s"${score(es)} AS s_es, ${score(fr)} AS s_fr, ${score(it)} AS s_it FROM t), " +
        "m AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_it) AS best FROM s) " +
        "SELECT doc_id AS id, CASE WHEN best <= 0 THEN 'und' " +
        "WHEN s_de = best THEN 'de' WHEN s_en = best THEN 'en' " +
        "WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr' " +
        "ELSE 'it' END AS lang_pred, best AS lang_score FROM m"
    }
  )

  /** Brute-force 3-gram-shingle jaccard in DuckDB — oracle for BOTH the
    * exact inverted-index variant and the MinHash+LSH variant (whose
    * recall at the 0.5 threshold is 1 - 1e-8 with 64 bands × 2 rows).
    */
  private val knnJoinOracle: String =
    "SELECT query_id, vec_id, cosine, rank FROM (" +
      "SELECT a.vec_id AS query_id, b.vec_id AS vec_id, " +
      "round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine, " +
      "row_number() OVER (PARTITION BY a.vec_id " +
      "ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) DESC, b.vec_id ASC) AS rank " +
      "FROM embeddings a, embeddings b " +
      "WHERE a.vec_id < 8 AND b.vec_id <> a.vec_id" +
      ") WHERE rank <= 5"

  private val ngramJaccardOracle: String =
    "WITH d AS (SELECT doc_id, string_split(text, ' ') w FROM documents), " +
      "s AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] " +
      "FOR i IN range(1, len(w) - 1)]) sh FROM d), " +
      "p AS (SELECT a.doc_id ia, b.doc_id ib, " +
      "round(len(list_intersect(a.sh, b.sh))::DOUBLE / " +
      "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) jaccard " +
      "FROM s a, s b WHERE a.doc_id < b.doc_id) " +
      "SELECT ia, ib, jaccard FROM p WHERE jaccard >= 0.5"
}
