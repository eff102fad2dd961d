package graft.extensions

import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{ArrayJoin, Ascending, AttributeReference,
  Concat, Descending, Expression, GreaterThan, If, Length, Literal, Lower, RegExpExtract,
  RegExpReplace, SortOrder, StringReplace}
import org.apache.spark.sql.functions.{col, lit, split}
import org.apache.spark.sql.types.{IntegerType, StringType}
import graft.expressions.{BloomMightContain, CosineSimilarity, JaccardSimilarity,
  JaccardSimilaritySorted, NfcClean, NoInline}
import graft.extensions.GraftExtensions._
import graft.functions.TextFunctions
import graft.operators.{Association, ChatOps, DatasetOps, Dedup, Graph, Multimodal, Robots,
  ScaleOps, Search, Similarity, Sketches, Stats}
import graft.sources.Warc

/** The spec list behind every graft SQL function: one entry per
  * function, registered by [[GraftExtensions]]'s loop. A table
  * function's parameters are literals (table names, column names,
  * sizes) parsed before its body runs; the body composes the same
  * operators the Scala surface exposes, so each SQL door and its Scala
  * twin are one implementation. Table-function bodies resolve their
  * tables through the ACTIVE session (set for the analysis thread by
  * `spark.sql`) and hand the analyzer the composition's analyzed plan.
  */
object SqlFunctions {
  private def table(n: String) = Param(n, Kind.Table)
  private def str(n: String) = Param(n, Kind.Str)
  private def int(n: String) = Param(n, Kind.Int)
  private def long(n: String) = Param(n, Kind.Long)
  private def num(n: String) = Param(n, Kind.Num)
  private def bool(n: String) = Param(n, Kind.Bool)

  private def tvf(name: String, owner: String, params: Param*)(body: Args => DataFrame): Tvf =
    new Tvf(name, owner, params, a => body(a).queryExecution.analyzed)
  private def scalar(name: String, owner: String, params: String*)
                    (body: Seq[Expression] => Expression): Scalar =
    new Scalar(name, owner, params, body)

  /** A scalar door that expands AT RESOLUTION into the identical Column
    * chain the Scala surface builds (GraftPlanBridge.columnOf/exprOf —
    * the chains may carry zip_with/filter lambdas, which have no
    * practical hand-built raw-tree form), so resolution drift between
    * the two doors is impossible by construction. */
  private def bridged(name: String, params: String*)(f: Seq[Column] => Column): Scalar =
    scalar(name, "graft.functions.TextFunctions", params: _*)(c =>
      GraftPlanBridge.exprOf(f(c.map(GraftPlanBridge.columnOf))))

  private def missing(df: DataFrame, cols: String*): Seq[String] =
    cols.filterNot(df.columns.contains)

  /** Quantile probes ride as a comma-separated ppm literal
    * ('250000,500000') — SQL-side callers have no array literal path
    * into a TVF argument list here. */
  private def ppms(a: Args): Seq[Long] = a.list("q_ppms").map(t =>
    scala.util.Try(t.toLong).getOrElse(throw new IllegalArgumentException(
      s"${a.fn}: q_ppms must be comma-separated integers, got '$t'")))

  /** The (qid, qvec: array<double>) probe frame of the stored-vector-
    * index doors, validated up front. */
  private def vectorQueries(a: Args): DataFrame = {
    val q = a.table("queries_table")
    val m = missing(q, "qid", "qvec")
    require(m.isEmpty, s"${a.fn}: queries_table lacks ${m.mkString(", ")}" +
      " — expected (qid, qvec: array<double>)")
    q
  }

  /** Index-layout validation up front: a wrong dir otherwise surfaces
    * as a path-not-found deep inside the probe plan. */
  private def readIndex(a: Args, dir: String, sub: String, layout: String): DataFrame =
    try a.spark.read.parquet(s"$dir/$sub")
    catch { case NonFatal(e) => throw new IllegalArgumentException(
      s"${a.fn}: cannot read $dir/$sub — expected a $layout", e) }

  private val Sim = "graft.operators.Similarity"
  private val Ds = "graft.operators.DatasetOps"
  private val Srch = "graft.operators.Search"

  val all: Seq[SqlFunction] = Seq(
    // ---- scalar functions ----------------------------------------------
    scalar("cosine_sim", classOf[CosineSimilarity].getName, "a", "b")(c =>
      CosineSimilarity(c(0), c(1))),
    scalar("no_inline", classOf[NoInline].getName, "expr")(c => NoInline(c(0))),
    scalar("bloom_might_contain", classOf[BloomMightContain].getName,
      "bloom_bytes", "long_value")(c => BloomMightContain(c(0), c(1))),
    scalar("jaccard_sim", classOf[JaccardSimilarity].getName, "a", "b")(c =>
      JaccardSimilarity(c(0), c(1))),
    scalar("jaccard_sim_sorted", classOf[JaccardSimilaritySorted].getName, "a", "b")(c =>
      JaccardSimilaritySorted(c(0), c(1))),
    scalar("nfc_clean", classOf[NfcClean].getName, "text")(c => NfcClean(c(0))),
    // text-cleaner doors: the SQL persona's route to the repair tier.
    // These expand AT RESOLUTION into the same expression chains the
    // Column API builds (no new eval code, no UDF — the trees are built
    // from stock codegen'd StringReplace/RegExpReplace nodes), so
    // `SELECT fix_mojibake(text)` and `TextFunctions.fixMojibake(col)`
    // are one implementation.
    scalar("fix_mojibake", classOf[StringReplace].getName, "text")(c =>
      TextFunctions.mojibakePairs.foldLeft(c(0)) { case (e, (m, t)) =>
        StringReplace(e, Literal(m), Literal(t))
      }),
    scalar("redact_pii", classOf[RegExpReplace].getName, "text")(c =>
      TextFunctions.piiPatterns.foldLeft(c(0)) { case (e, (_, pat, repl)) =>
        RegExpReplace(e, Literal(pat), Literal(repl))
      }),
    // URL canonicalization — TextFunctions.urlNormalize's chain in the
    // same stock RegExp/Lower/Concat nodes the Column API builds
    scalar("url_normalize", classOf[RegExpReplace].getName, "url") { c =>
      def rr(e: Expression, p: String, r: String): Expression =
        RegExpReplace(e, Literal(p), Literal(r))
      val noFrag = rr(c(0), "#.*$", "")
      val auth = Lower(RegExpExtract(noFrag, Literal("^([A-Za-z]+://[^/]*)"), Literal(1)))
      val rest = rr(noFrag, "^[A-Za-z]+://[^/]*", "")
      val noWww = rr(rr(rr(auth,
        "^(http://[^/:]*):80$", "$1"),
        "^(https://[^/:]*):443$", "$1"),
        "^(https?://)www\\.", "$1")
      // trailing-slash trim only when no query string is present
      // ([^?] spans the whole rest or nothing) — '?next=/' is data
      Concat(Seq(noWww, rr(rest, "^([^?]*?)/+$", "$1")))
    },
    // HTML meta-charset sniff (q276's in-document fallback leg —
    // effective charset is coalesce(header, html_charset(body),
    // 'utf-8')); NULL when no meta declaration
    scalar("html_charset", classOf[RegExpExtract].getName, "html") { c =>
      val cs = Lower(RegExpExtract(c(0),
        Literal("(?is)<meta[^>]*charset\\s*=\\s*[\"']?([A-Za-z0-9_.:-]+)"), Literal(1)))
      If(GreaterThan(Length(cs), Literal(0)), cs, Literal(null, StringType))
    },
    // anchor (href, text) extraction — the WAT-signal door:
    // array<struct<url, text>> and array<string>
    bridged("extract_anchors", "html", "page_url")(c =>
      TextFunctions.extractAnchors(c(0), c(1))),
    bridged("extract_links", "html", "page_url")(c =>
      TextFunctions.extractLinks(c(0), c(1))),
    // rel=canonical (the content-identity key beside the SURT spelling
    // key): the declared URL (NULL when absent), and the dedup key
    bridged("extract_canonical", "html", "page_url")(c =>
      TextFunctions.extractCanonical(c(0), c(1))),
    bridged("canonical_key", "html", "page_url")(c =>
      TextFunctions.canonicalKey(c(0), c(1))),
    // sitemap record types (q301's extractors): child SITEMAPS, page
    // URLs, and the metadata-carrying twin array<struct<loc, lastmod,
    // changefreq>> (recrawl hints)
    bridged("sitemap_index_locs", "xml")(c => TextFunctions.sitemapIndexLocs(c(0))),
    bridged("sitemap_url_locs", "xml")(c => TextFunctions.sitemapUrlLocs(c(0))),
    bridged("sitemap_url_entries", "xml")(c => TextFunctions.sitemapUrlEntries(c(0))),
    // main-content extraction (the boilerplate-removal tier):
    // array<struct<text, n_chars, n_words, link_ppm, stop_ppm, good>>,
    // and the good blocks joined with \n
    bridged("html_blocks", "html")(c => TextFunctions.htmlBlocks(c(0))),
    bridged("main_content", "html")(c => TextFunctions.mainContent(c(0))),
    // SURT urlkey (lambda-free, but bridged so the two doors cannot
    // drift). Feed it an url_normalize'd URL, per the Column twin's
    // input contract.
    scalar("surt_key", classOf[ArrayJoin].getName, "url")(c =>
      GraftPlanBridge.exprOf(TextFunctions.surtKey(GraftPlanBridge.columnOf(c(0))))),

    // ---- table functions -----------------------------------------------
    // The top-k-per-group heap plan for the Athena-layer user (VERDICT
    // r4 item 8):  SELECT * FROM topk_per_group('orders', 'o_custkey',
    //                  'o_totalprice DESC, o_orderkey', 3)
    // Comma-separated group cols, comma-separated order items with
    // optional ASC/DESC, k, and an optional rank output column (the
    // row_number equivalent, emitted by the heap's final phase). The
    // body emits the UNRESOLVED logical node — the analyzer resolves the
    // relation and the attribute references exactly as it does for any
    // FROM-clause table.
    new Tvf("topk_per_group", classOf[graft.plans.TopKPerGroup].getName, Seq(
        table("table"), str("group_cols"), str("order_spec"), int("k").atLeast(1),
        str("rank_col").opt), { a =>
      val groups = a.list("group_cols")
        .map(n => UnresolvedAttribute.quotedString(n): Expression)
      val order = a.list("order_spec").map { item =>
        val lower = item.toLowerCase(java.util.Locale.ROOT)
        val (name, asc) =
          if (lower.endsWith(" desc")) (item.dropRight(5).trim, false)
          else if (lower.endsWith(" asc")) (item.dropRight(4).trim, true)
          else (item, true)
        SortOrder(UnresolvedAttribute.quotedString(name), if (asc) Ascending else Descending)
      }
      val rankFor = a.opt("rank_col")(a.str)
        .map(n => AttributeReference(n, IntegerType, nullable = false)())
      graft.plans.TopKPerGroup(groups.toIndexedSeq, order.toIndexedSeq, a.int("k"),
        UnresolvedRelation(a.str("table").split('.').toSeq), rankFor)
    }),
    // Near-dup pair mining: the exact all-pairs oracle tier (quadratic;
    // ground truth) …
    tvf("cosine_near_dup", Sim, table("table"), str("id_col"), str("vec_col"),
        num("threshold"), bool("allow_quadratic").opt(false)) { a =>
      val df = a.table("table")
      // Guard rail (VERDICT r5): in Scala the all-pairs tier is a
      // comment-fenced oracle construct; from SQL nothing but this check
      // stands between a user and an O(n²) job on a production table. A
      // bounded limit-count (reads at most ceiling+1 rows) refuses big
      // inputs loudly; an explicit boolean literal opts back in for
      // deliberate oracle runs. This is the one TVF that runs a Spark
      // job while its query is only being analysed.
      if (!a.bool("allow_quadratic")) {
        val ceiling = QuadraticTvfRowCeiling
        if (df.limit(ceiling + 1).count() > ceiling)
          throw new IllegalArgumentException(
            s"cosine_near_dup is the exact ALL-PAIRS tier (O(n^2) pairs): " +
              s"'${a.str("table")}' exceeds $ceiling rows. Use " +
              "cosine_near_dup_banded(table, id_col, vec_col, threshold, dim) " +
              "for production scale, or opt in explicitly with " +
              "cosine_near_dup(table, id_col, vec_col, threshold, true)")
      }
      Similarity.cosineNearDupPairsExact(df, a.str("id_col"), a.str("vec_col"),
        a.num("threshold"))
    },
    // … and the banded-LSH production tier for thresholds ≥ ~0.85
    tvf("cosine_near_dup_banded", Sim, table("table"), str("id_col"), str("vec_col"),
        num("threshold"), int("dim")) { a =>
      Similarity.cosineNearDupPairsBanded(a.table("table"), a.str("id_col"),
        a.str("vec_col"), a.num("threshold"), dim = a.int("dim"))
    },
    // Line-level boilerplate dedup (q97's operator). Default
    // decomposition is newline split (the real-corpus shape); a
    // chunk_width switches to fixed token chunks (the newline-free
    // fixture's decomposition). Emits (id, n_lines, n_removed, cleaned).
    tvf("line_dedup", "graft.operators.Dedup", table("table"), str("id_col"),
        str("text_col"), int("min_docs"), int("chunk_width").atLeast(1).opt) { a =>
      val idCol = a.str("id_col")
      val textCol = a.str("text_col")
      val base = a.table("table")
      val (docs, lines, sep) = a.opt("chunk_width")(a.int) match {
        case Some(w) =>
          // token-chunk mode: tokens projected per the lambda-CSE rule
          (base.select(col(idCol), TextFunctions.whitespaceTokens(col(textCol)).as("_tk")),
            TextFunctions.tokenChunks(col("_tk"), w, w), " ")
        case None =>
          (base.select(col(idCol), col(textCol)), split(col(textCol), "\n", -1), "\n")
      }
      Dedup.removeBoilerplateLines(docs, idCol, lines, a.int("min_docs"), sep)
    },
    // Greedy sequence packing (q99's operator): the input rows plus
    // (shard, n_tokens, offset, bin)
    tvf("pack_sequences", Ds, table("table"), str("id_col"), str("text_col"),
        int("seq_len"), int("n_shards")) { a =>
      DatasetOps.packSequences(a.table("table"), a.str("id_col"),
        TextFunctions.tokenCount(col(a.str("text_col"))),
        seqLen = a.int("seq_len"), nShards = a.int("n_shards"))
    },
    // Cross-doc repeated-span masking (q113's operator):
    // (id, n_tokens, n_masked, cleaned)
    tvf("mask_spans", Ds, table("table"), str("id_col"), str("text_col"), int("k"),
        int("min_docs").opt(2)) { a =>
      DatasetOps.maskRepeatedSpans(a.table("table"), a.str("id_col"), a.str("text_col"),
        k = a.int("k"), minDocs = a.int("min_docs"))
    },
    // Adaptive quality gate (q110's operator): the EXACT tier (per-group
    // rank cut); emits the gated input rows. The sketch tier stays a
    // Scala call — its approx_percentile cut is resolution-dependent,
    // which a SQL surface should not hide.
    tvf("quality_gate", Ds, table("table"), str("group_col"), str("score_col"),
        str("id_col"), num("keep_frac")) { a =>
      val frac = a.num("keep_frac")
      require(frac > 0.0 && frac <= 1.0,
        s"quality_gate: keep_frac must be in (0, 1], got $frac")
      DatasetOps.qualityGateExact(a.table("table"), a.str("group_col"),
        a.str("score_col"), a.str("id_col"), keepFrac = frac)
    },
    // Graph centrality — the link-analysis tier. Its iterated loops run
    // at resolution, so these two fire Spark jobs while the query is
    // analysed; the returned plan reads the checkpointed score tables.
    // page_rank → (node, score); hits → (node, hub_score, auth_score)
    tvf("page_rank", "graft.operators.Graph", table("edge_table"), str("src_col"),
        str("dst_col"), long("iters")) { a => iterated(a, Graph.pageRank(_, _, _, _)) },
    tvf("hits", "graft.operators.Graph", table("edge_table"), str("src_col"),
        str("dst_col"), long("iters")) { a => iterated(a, Graph.hits(_, _, _, _)) },
    // Multi-hop redirect resolution:
    // (start_url, final_url, n_hops, loop_flag)
    tvf("resolve_redirects", "graft.operators.Graph", table("table"), str("src_col"),
        str("dst_col"), long("hop_cap")) { a =>
      val tbl = a.table("table")
      val (srcCol, dstCol, cap) = (a.str("src_col"), a.str("dst_col"), a.long("hop_cap"))
      Seq(srcCol, dstCol).foreach(c => require(tbl.columns.contains(c),
        s"resolve_redirects: table lacks column '$c'"))
      require(cap >= 1 && cap <= 16,
        s"resolve_redirects: hop_cap must be in [1, 16], got $cap")
      Graph.resolveRedirects(tbl, srcCol, dstCol, cap.toInt)
    },
    // Reference-LM scoring (q292's operator — the CCNet quality
    // signal): the docs table's columns plus (n_bigrams, surprisal_bits,
    // milli_bits_per_bigram)
    tvf("reference_lm_score", Ds, table("docs_table"), table("ref_table"),
        str("id_col"), str("text_col")) { a =>
      val (docsT, refT) = (a.table("docs_table"), a.table("ref_table"))
      val (idCol, textCol) = (a.str("id_col"), a.str("text_col"))
      require(docsT.columns.contains(idCol) && docsT.columns.contains(textCol),
        s"reference_lm_score: docs table lacks '$idCol' or '$textCol'")
      require(refT.columns.contains(textCol),
        s"reference_lm_score: ref table lacks '$textCol'")
      DatasetOps.referenceLmScores(docsT, refT, idCol, textCol)
    },
    // Duplicate-span excision (q290's operator — the exact-substring
    // dedup tier): the input columns plus (clean_text, chars_removed)
    tvf("dup_span_excise", "graft.operators.Dedup", table("table"), str("id_col"),
        str("text_col"), long("k")) { a =>
      val tbl = a.table("table")
      val (idCol, textCol, k) = (a.str("id_col"), a.str("text_col"), a.long("k"))
      Seq(idCol, textCol).foreach(c => require(tbl.columns.contains(c),
        s"dup_span_excise: table lacks column '$c'"))
      require(k >= 8 && k <= 256, s"dup_span_excise: k must be in [8, 256], got $k")
      Dedup.exciseSpans(tbl, Dedup.dupSpans(tbl, idCol, textCol, k.toInt), idCol, textCol)
    },
    // WARC record extraction (q258's operator — crawl stage zero): the
    // input columns plus (uri, content_length, payload, len_ok), one row
    // per recovered record
    tvf("warc_records", "graft.sources.Warc", table("table"), str("blob_col")) { a =>
      val tbl = a.table("table")
      val blobCol = a.str("blob_col")
      require(tbl.columns.contains(blobCol), s"warc_records: table lacks column '$blobCol'")
      Warc.parseRecords(tbl, blobCol)
    },
    // HTTP message split (q269's operator): the input columns plus
    // (http_status, content_type, charset, body); non-HTTP payloads
    // surface as NULLs
    tvf("http_split", "graft.sources.Warc", table("table"), str("payload_col")) { a =>
      val tbl = a.table("table")
      val pc = a.str("payload_col")
      require(tbl.columns.contains(pc), s"http_split: table lacks column '$pc'")
      Warc.httpSplit(tbl, pc)
    },
    // Sitemap discovery from robots.txt bodies (q273's operator):
    // (host, txt) in, distinct (host, sitemap_url) out — the directive
    // is host-wide, never group-scoped
    tvf("robots_sitemaps", "graft.operators.Robots", table("robots_table")) { a =>
      Robots.sitemaps(robotsTable(a), "host", "txt")
    },
    // robots.txt verdicts (q262's operator — crawl politeness):
    // requests_table is (host, agent, upath); emits (host, agent, upath,
    // allowed)
    tvf("robots_verdicts", "graft.operators.Robots", table("robots_table"),
        table("requests_table")) { a =>
      val robots = robotsTable(a)
      val reqs = a.table("requests_table")
      val m = missing(reqs, "host", "agent", "upath")
      require(m.isEmpty, s"robots_verdicts: requests_table lacks " +
        s"${m.mkString(", ")} — expected (host, agent, upath)")
      Robots.verdicts(Robots.rules(robots, "host", "txt"), reqs)
    },
    // Within-doc repetition signals (q252's operator — the Gopher
    // self-repetition rules): (id, n_words, word_chars, top2_cnt,
    // top2_ppm, dup3_ppm)
    tvf("repetition_signals", Ds, table("table"), str("id_col"), str("text_col")) { a =>
      DatasetOps.repetitionSignals(a.table("table"), a.str("id_col"), a.str("text_col"))
    },
    // Chat/SFT prep (q312/q313's operator): parse + validate + ChatML
    // render + loss-mask spans in one narrow projection — (id, conv_id,
    // reason, n_turns, rendered_len, rendered_md5, mask_spans,
    // masked_chars)
    tvf("chat_flatten", "graft.operators.ChatOps", table("table"), str("id_col"),
        str("json_col")) { a =>
      ChatOps.flatten(a.table("table"), a.str("id_col"), a.str("json_col"))
    },
    // Context-window fitting (q323's operator): (id, n_kept, n_dropped,
    // fits, kept_len, kept_md5) per parseable-and-valid conversation
    tvf("chat_context_fit", "graft.operators.ChatOps", table("table"), str("id_col"),
        str("json_col"), int("budget").atLeast(1)) { a =>
      ChatOps.fitContextFlat(a.table("table"), a.str("id_col"), a.str("json_col"),
        a.int("budget").toLong)
    },
    // DPO preference pairs (q314's operator): (grp, chosen_id,
    // chosen_score, rejected_id, rejected_score, gap)
    tvf("preference_pairs", "graft.operators.ChatOps", table("table"), str("grp_col"),
        str("id_col"), str("score_col"), int("min_gap")) { a =>
      ChatOps.preferencePairs(a.table("table"), a.str("grp_col"), a.str("id_col"),
        a.str("score_col"), minGap = a.int("min_gap").toLong)
    },
    // Best-of-n / rejection-sampling selection (q335's operator):
    // (grp, rank, id, score) — per group the top-k responses by score
    // above the floor, heap-rewritten ranking
    tvf("best_of_n", "graft.operators.ChatOps", table("table"), str("grp_col"),
        str("id_col"), str("score_col"), int("k").atLeast(1), int("floor")) { a =>
      ChatOps.bestOfN(a.table("table"), a.str("grp_col"), a.str("id_col"),
        a.str("score_col"), a.int("k"), floor = a.int("floor").toLong)
    },
    // DSIR-shaped importance scoring (q116's operator): (id, n_grams,
    // score, avg_ratio)
    tvf("importance_score", Ds, table("corpus_table"), table("target_table"),
        str("id_col"), str("text_col"), int("k").atLeast(1).opt(2)) { a =>
      DatasetOps.importanceScores(a.table("corpus_table"), a.table("target_table"),
        a.str("id_col"), a.str("text_col"), k = a.int("k"))
    },
    // Length-bucketed batch assembly (q117's operator): the input rows
    // plus (n_tokens, bucket, shard, batch_idx, pos); the
    // power-of-two/ordering requires surface as analysis errors rather
    // than mid-job failures
    tvf("length_batches", Ds, table("table"), str("id_col"), str("text_col"),
        int("batch_size"), int("min_bucket").opt(16), int("max_bucket").opt(2048),
        int("n_shards").opt(8)) { a =>
      DatasetOps.lengthBucketBatches(a.table("table"), a.str("id_col"),
        TextFunctions.tokenCount(col(a.str("text_col"))),
        batchSize = a.int("batch_size"), minBucket = a.int("min_bucket"),
        maxBucket = a.int("max_bucket"), nShards = a.int("n_shards"))
    },
    // Mean-pooled group embeddings (q120's operator): (<group_col's
    // name>, n_vecs, centroid array<double>)
    tvf("mean_pool", Sim, table("table"), str("group_col"), str("vec_col")) { a =>
      Similarity.meanPoolEmbeddings(a.table("table"), a.str("group_col"), a.str("vec_col"))
    },
    // Contrastive triplet mining (q121's operator): pairs_table carries
    // (idA, idB, sim) near-dup verdicts (e.g. a cosine_near_dup
    // materialization); emits (anchor, positive, sim, negative)
    tvf("mine_triplets", Sim, table("pairs_table"), table("ids_table"), str("id_col"),
        int("n_shards").opt(8)) { a =>
      Similarity.mineTriplets(a.table("pairs_table"), a.table("ids_table"),
        a.str("id_col"), nShards = a.int("n_shards"))
    },
    // BM25 keyword search (q124's operator): builds postings + corpus
    // stats for the table and ranks the one query string's top-k
    // through the heap node; emits (qid, rank, doc_id, score). An ad-hoc
    // probe pays the index build — repeated probes should persist the
    // postings (Search.writePostingsBucketed) and use bm25_search_idx.
    tvf("bm25_search", Srch, table("table"), str("id_col"), str("text_col"),
        str("query"), int("k").atLeast(1)) { a =>
      val corpus = a.table("table")
      val (idCol, textCol) = (a.str("id_col"), a.str("text_col"))
      Search.bm25TopK(queryFrame(a), Search.termPostings(corpus, idCol, textCol),
        Search.corpusStats(corpus, idCol, textCol), k = a.int("k"))
    },
    // BM25 probe of a PERSISTED index (VERDICT r7 Missing #4: the
    // build-once-probe-many tier). postings_table is a termPostings
    // landing — ideally Search.writePostingsBucketed's bucketed table,
    // making the probe join exchange-free on the index side — and
    // lens_table the docLens sidecar the corpus stats derive from (never
    // a corpus rescan). Index schemas are validated loudly up front: a
    // wrong table name otherwise surfaces as an unresolved-column error
    // deep inside the scoring plan.
    tvf("bm25_search_idx", Srch, table("postings_table"), table("lens_table"),
        str("query"), int("k").atLeast(1)) { a =>
      val post = a.table("postings_table")
      val missingP = missing(post, "term", "id", "tf", "dl")
      require(missingP.isEmpty,
        s"bm25_search_idx: postings_table lacks ${missingP.mkString(", ")}" +
          " — expected a Search.termPostings/writePostingsBucketed landing")
      val lens = a.table("lens_table")
      val missingL = missing(lens, "id", "dl")
      require(missingL.isEmpty,
        s"bm25_search_idx: lens_table lacks ${missingL.mkString(", ")}" +
          " — expected a Search.docLens landing")
      Search.bm25TopK(queryFrame(a), post, Search.statsFromLens(lens), k = a.int("k"))
    },
    // Boolean retrieval (q158's operator): the three clauses are
    // whitespace-separated term-list literals ('' = empty clause);
    // emits (id, n_should) ordered by (n_should desc, id). Same ad-hoc
    // caveat as bm25_search.
    tvf("boolean_search", Srch, table("table"), str("id_col"), str("text_col"),
        str("must"), str("should"), str("must_not"), int("k").atLeast(1)) { a =>
      Search.booleanSearch(
        Search.termPostings(a.table("table"), a.str("id_col"), a.str("text_col")),
        must = a.words("must"), should = a.words("should"),
        mustNot = a.words("must_not"), k = a.int("k"))
    },
    // Faceted search (q171's operator): docs containing ALL must terms
    // censused by the facet column; emits (facet, n_docs) ordered by
    // (n_docs desc, facet). Same ad-hoc caveat as bm25_search.
    tvf("facet_search", Srch, table("table"), str("id_col"), str("text_col"),
        str("facet_col"), str("must"), int("top_n")) { a =>
      val t = a.table("table")
      val idCol = a.str("id_col")
      Search.facetedSearch(Search.termPostings(t, idCol, a.str("text_col")),
        t, idCol, a.str("facet_col"), a.words("must"), a.int("top_n"))
    },
    // Key-skew diagnostic (q172's operator): (key, n_rows, share_ppm,
    // n_salts) ordered by (n_rows desc, key)
    tvf("skew_report", "graft.operators.ScaleOps", table("table"), str("key_col"),
        long("target_rows_per_task"), int("top_n")) { a =>
      ScaleOps.skewReport(a.table("table"), a.str("key_col"),
        a.long("target_rows_per_task"), a.int("top_n"))
    },
    // Equi-width integer histogram (q181's operator): (bin, n_rows)
    // ordered by bin; bins -1/n_bins carry the out-of-range tails
    tvf("histogram", Ds, table("table"), str("value_col"), int("n_bins"), long("lo"),
        long("hi")) { a =>
      DatasetOps.histogram(a.table("table"), a.str("value_col"), a.int("n_bins"),
        a.long("lo"), a.long("hi"))
    },
    // Market-basket rules (q182's operator, the ad-hoc tier — repeated
    // mining should persist directedPairCounts and probe
    // associationRulesFromCounts)
    tvf("association_rules", "graft.operators.Association", table("table"),
        str("basket_col"), str("item_col"), long("min_support"), int("top_n")) { a =>
      Association.associationRules(a.table("table"), a.str("basket_col"),
        a.str("item_col"), a.long("min_support"), a.int("top_n"))
    },
    // Trigram-indexed substring search (q178's operator, the LIKE-scan
    // replacement): (id, n_occurrences) ordered by (n_occurrences desc,
    // id). Same ad-hoc caveat as bm25_search.
    tvf("substring_search", Srch, table("table"), str("id_col"), str("text_col"),
        str("pattern")) { a =>
      Search.substringSearch(a.table("table"), a.str("id_col"), a.str("text_col"),
        a.str("pattern"))
    },
    // Substring search over a PERSISTED trigram index (q183's ad-hoc
    // tier costs ~15× the indexed path because it regrams the corpus
    // per call). grams_table is a charGramPostings landing (one (gram,
    // id) row per distinct trigram per doc); the docs table is touched
    // only to verify the gram-gated candidates. Gram size is the default
    // 3 — the persisted index fixes it at build time.
    tvf("substring_search_idx", Srch, table("grams_table"), table("docs_table"),
        str("id_col"), str("text_col"), str("pattern")) { a =>
      val grams = a.table("grams_table")
      val m = missing(grams, "id", "gram")
      require(m.isEmpty, s"substring_search_idx: grams_table lacks ${m.mkString(", ")}" +
        " — expected a Search.charGramPostings landing")
      Search.substringSearchFromIndex(grams, a.table("docs_table"), a.str("id_col"),
        a.str("text_col"), a.str("pattern"))
    },
    // ADC probe of a PERSISTED PQ index (VERDICT r9 Missing #2: the
    // embedding serving tier's parser door). index_dir is a
    // Similarity.Pq.writePqIndex layout — the wide code table at
    // dir/codes plus the codebook SIDECAR at dir/books, which makes a
    // stored index self-describing: the probe recovers the build
    // geometry from disk, never guesses. Emits (qid, rank, cid,
    // est_micro).
    tvf("pq_search", Sim, str("index_dir"), table("queries_table"),
        int("k").atLeast(1)) { a =>
      val dir = a.str("index_dir")
      val queries = vectorQueries(a)
      val codes = readIndex(a, dir, "codes",
        "Similarity.Pq.writePqIndex layout (codes + books)")
      val m = ("cid" +: (0 until Similarity.Pq.m).map(i => s"c$i"))
        .filterNot(codes.columns.contains)
      require(m.isEmpty, s"pq_search: $dir/codes lacks ${m.mkString(", ")}" +
        " — expected Similarity.Pq.encodeWide's wide code layout")
      Similarity.Pq.probePqIndex(a.spark, dir, queries, a.int("k"))
    },
    // Cell-pruned exact-cosine probe of a PERSISTED IVF index:
    // index_dir is a Similarity.writeIvfIndex layout (cell-partitioned
    // vectors at dir/cells + the centroid table at dir/centroids); the
    // probe ranks the stored centroids per query and reads only the
    // n_probe winning cell partitions (dynamic partition pruning).
    // Emits (qid, rank, cid, sim).
    tvf("ivf_search", Sim, str("index_dir"), table("queries_table"),
        int("k").atLeast(1), int("n_probe").atLeast(1)) { a =>
      val dir = a.str("index_dir")
      val queries = vectorQueries(a)
      val layout = "Similarity.writeIvfIndex layout (cells + centroids)"
      val missingK = missing(readIndex(a, dir, "centroids", layout), "_cell", "_cent")
      require(missingK.isEmpty, s"ivf_search: $dir/centroids lacks ${missingK.mkString(", ")}")
      val missingCells = missing(readIndex(a, dir, "cells", layout), "cid", "cvec", "_cell")
      require(missingCells.isEmpty,
        s"ivf_search: $dir/cells lacks ${missingCells.mkString(", ")}")
      Similarity.probeIvfIndex(a.spark, dir, queries, a.int("k"), a.int("n_probe"))
    },
    // Asymmetric probe of a PERSISTED SQ (int8 scalar-quantization)
    // index: index_dir is a Similarity.Sq.writeSqIndex layout — codes at
    // dir/codes plus the per-dim (min, max) SIDECAR at dir/minmax, which
    // the probe recovers from disk (decoding with wrong ranges silently
    // mis-ranks, so a missing sidecar refuses loudly). Emits (qid, rank,
    // cid, est_micro).
    tvf("sq_search", Sim, str("index_dir"), table("queries_table"),
        int("k").atLeast(1)) { a =>
      val dir = a.str("index_dir")
      val queries = vectorQueries(a)
      val codes = readIndex(a, dir, "codes",
        "Similarity.Sq.writeSqIndex layout (codes + minmax)")
      val m = missing(codes, "cid", "codes")
      require(m.isEmpty, s"sq_search: $dir/codes lacks ${m.mkString(", ")}" +
        " — expected Similarity.Sq.writeSqIndex's code layout")
      Similarity.Sq.probeSqIndex(a.spark, dir, queries, a.int("k"))
    },
    // Perceptual image near-dup mining — the multimodal twin of
    // cosine_near_dup. raster_hx_col is the 8×9 gray hex raster
    // contract dHashBits consumes (imageDecodeBatch / videoDecodeBatch
    // emit it); the exact banded-hamming path — pigeonhole-exact at
    // bands > max_hamming, enforced loudly by the operator. Emits (idA,
    // idB, hamming) with idA < idB.
    tvf("image_near_dup", "graft.operators.Multimodal", table("table"), str("id_col"),
        str("raster_hx_col"), int("max_hamming"), int("bands")) { a =>
      nearDupBits(a, "raster_hx_col", hx => Multimodal.dHashBits(hx, 8, 8),
        Multimodal.imageNearDupPairs)
    },
    // Audio twin over loudness envelopes (audioDecodeBatch's 65-bin
    // output): gradient-sign fingerprint + the same banded machinery;
    // short envelopes degrade to null fingerprints and are filtered
    // (audioFingerprintBits' guard contract).
    tvf("audio_near_dup", "graft.operators.Multimodal", table("table"), str("id_col"),
        str("envelope_col"), int("max_hamming"), int("bands")) { a =>
      nearDupBits(a, "envelope_col", Multimodal.audioFingerprintBits,
        Multimodal.audioNearDupPairs, dropNull = true)
    },
    // Unigram LM surprisal scoring (q157's operator): (id_col,
    // n_tokens, surprisal_bits, milli_bits_per_token)
    tvf("surprisal_score", Ds, table("table"), str("id_col"), str("text_col")) { a =>
      DatasetOps.surprisalScores(a.table("table"), a.str("id_col"), a.str("text_col"))
    },
    // Mixture budget water-filling (q155's operator): one row per
    // source — (source, n_tokens, capacity_tokens, alloc_tokens,
    // saturated, milli_epochs)
    tvf("mixture_waterfill", Ds, table("table"), str("source_col"), str("text_col"),
        long("budget"), long("cap_milli")) { a =>
      DatasetOps.mixtureAllocation(a.table("table"), a.str("source_col"),
        a.str("text_col"), budgetTokens = a.long("budget"),
        maxMilliEpochs = a.long("cap_milli"))
    },
    // Exact phrase match (q125's operator): the phrase is ONE string
    // literal, whitespace-split with the index's own tokenizer geometry;
    // emits (id, n_matches)
    tvf("phrase_match", Srch, table("table"), str("id_col"), str("text_col"),
        str("phrase")) { a =>
      Search.phraseMatches(a.table("table"), a.str("id_col"), a.str("text_col"),
        a.words("phrase"))
    },
    // Fuzzy term suggestions (q129's operator): query_terms is a
    // whitespace-separated literal; emits (query_term, rank, term,
    // doc_freq)
    tvf("fuzzy_terms", Srch, table("table"), str("id_col"), str("text_col"),
        str("query_terms"), int("k").atLeast(1).opt(3)) { a =>
      Search.fuzzyTermSuggestions(a.table("table"), a.str("id_col"), a.str("text_col"),
        a.words("query_terms"), k = a.int("k"))
    },
    // Weighted source interleave (q127's operator): weights is a
    // 'src0:3,src1:2' literal; unlisted sources weigh 1
    tvf("interleave_sources", Ds, table("table"), str("id_col"), str("source_col"),
        str("weights"), int("n_shards").opt(8)) { a =>
      val weights = a.str("weights").split(',').map(_.trim).filter(_.nonEmpty).map { w =>
        w.split(':') match {
          case Array(src, n) if n.trim.matches("\\d+") => src.trim -> n.trim.toLong
          case _ => throw new IllegalArgumentException(
            s"interleave_sources: weights must look like 'src0:3,src1:2', got '$w'")
        }
      }.toMap
      DatasetOps.interleaveSources(a.table("table"), a.str("id_col"), a.str("source_col"),
        weights, nShards = a.int("n_shards"))
    },
    // MMR diversified re-ranking (q132's operator): ranked_table carries
    // (qid, rank, cid); vectors_table (id, vec)
    tvf("mmr_rerank", Srch, table("ranked_table"), table("vectors_table"), int("m"),
        int("k")) { a =>
      Search.mmrRerank(a.table("ranked_table"), a.table("vectors_table"),
        m = a.int("m"), k = a.int("k"))
    },
    // Best-snippet extraction (q135's operator — the highlighting step
    // a SQL retrieval user composes directly after bm25_search):
    // query_terms is a whitespace-separated literal; emits (id, start,
    // n_hits, snippet)
    tvf("best_snippets", Srch, table("table"), str("id_col"), str("text_col"),
        str("query_terms"), int("window").atLeast(1).opt(16)) { a =>
      Search.bestSnippets(a.table("table"), a.str("id_col"), a.str("text_col"),
        someTerms(a), window = a.int("window"))
    },
    // PMI query expansion (q136's operator): query_terms is a
    // whitespace-separated literal; emits (query_term, rank, term, pmi6,
    // joint)
    tvf("pmi_expand", Srch, table("table"), str("id_col"), str("text_col"),
        str("query_terms"), int("k").atLeast(1), int("min_joint").atLeast(1).opt(3)) { a =>
      Search.pmiExpansion(a.table("table"), a.str("id_col"), a.str("text_col"),
        someTerms(a), k = a.int("k"), minJoint = a.int("min_joint").toLong)
    },
    // Reciprocal-rank fusion (q142's operator — hybrid retrieval's merge
    // step between a bm25_search arm and an embedding arm): both tables
    // carry (qid, rank, doc_id); emits (qid, rank, doc_id, rrf)
    tvf("rrf_fuse", Srch, table("ranked_a"), table("ranked_b"), int("k0").atLeast(1),
        int("k").atLeast(1)) { a =>
      Search.rrfFuse(Seq(a.table("ranked_a"), a.table("ranked_b")),
        k0 = a.int("k0"), k = a.int("k"))
    },
    // Token-budget corpus selection (q143's operator): the selected
    // input rows (the maximal (score DESC, md5 draw, id) prefix whose
    // cumulative token_col fits the budget). Budgets are token COUNTS —
    // routinely > Int.MaxValue at corpus scale, so read at long width.
    tvf("select_token_budget", Ds, table("table"), str("id_col"), str("score_col"),
        str("token_col"), long("budget").atLeast(0)) { a =>
      DatasetOps.selectTokenBudget(a.table("table"), a.str("id_col"), a.str("score_col"),
        a.str("token_col"), a.long("budget"))
    },
    // Distributed exact order statistics (q193/q194's operators)
    tvf("exact_quantiles", "graft.operators.Stats", table("table"), str("value_col"),
        str("q_ppms")) { a =>
      Stats.exactQuantiles(a.table("table"), a.str("value_col"), ppms(a))
    },
    tvf("equidepth_hist", "graft.operators.Stats", table("table"), str("value_col"),
        int("k")) { a =>
      Stats.equiDepthHistogram(a.table("table"), a.str("value_col"), a.int("k"))
    },
    tvf("grouped_quantiles", "graft.operators.Stats", table("table"), str("group_col"),
        str("value_col"), str("q_ppms")) { a =>
      Stats.groupedExactQuantiles(a.table("table"), a.str("group_col"),
        a.str("value_col"), ppms(a))
    },
    tvf("table_profile", "graft.operators.Stats", table("table"), str("cols")) { a =>
      val cols = a.list("cols")
      require(cols.nonEmpty, "table_profile: at least one column required")
      Stats.profile(a.table("table"), cols)
    },
    // Count-min point estimates (q192's operator): builds the d×w grid
    // over the named column and probes the comma-separated terms in one
    // call (the ad-hoc tier — the Scala surface persists the grid for
    // build-once/probe-many)
    tvf("count_min_probe", "graft.operators.Sketches", table("table"), str("term_col"),
        int("depth"), int("width"), str("probes")) { a =>
      val probes = a.list("probes")
      require(probes.nonEmpty, "count_min_probe: at least one probe term required")
      val (depth, width) = (a.int("depth"), a.int("width"))
      val sketch = Sketches.countMinBuild(a.table("table"), a.str("term_col"), depth, width)
      import a.spark.implicits._
      Sketches.countMinEstimate(sketch, probes.toDF("term"), "term", depth, width)
    },
    // KMV distinct-count estimates (q248's operator — the cardinality
    // sibling of count_min_probe): per-group k-minimum-values sketch
    // over the item column, emitting (group, n_distinct_est). The ad-hoc
    // tier — the Scala surface (kmvMins/kmvMergeMins +
    // DocIngest.runKmvIngest) persists and merges min-sets.
    tvf("kmv_distinct", "graft.operators.Sketches", table("table"), str("group_col"),
        str("item_col"), int("k").atLeast(2)) { a =>
      val (grp, k) = (a.str("group_col"), a.int("k"))
      Sketches.kmvEstimate(
        Sketches.kmvMins(a.table("table"), Seq(grp), a.str("item_col"), k), Seq(grp), k)
    },
    // Weighted deterministic sampling (q199's operator)
    tvf("weighted_sample", Ds, table("table"), str("group_col"), str("id_col"),
        str("weight_col"), int("k")) { a =>
      DatasetOps.weightedPrioritySample(a.table("table"), a.str("group_col"),
        a.str("id_col"), a.str("weight_col"), a.int("k"))
    }
  )

  /** page_rank / hits: both endpoint columns must exist, and the loop
    * count is bounded. */
  private def iterated(a: Args, run: (DataFrame, String, String, Int) => DataFrame)
      : DataFrame = {
    val tbl = a.table("edge_table")
    val (srcCol, dstCol, iters) = (a.str("src_col"), a.str("dst_col"), a.long("iters"))
    Seq(srcCol, dstCol).foreach(c => require(tbl.columns.contains(c),
      s"${a.fn}: table lacks column '$c'"))
    require(iters >= 1 && iters <= 20, s"${a.fn}: iters must be in [1, 20], got $iters")
    run(tbl, srcCol, dstCol, iters.toInt)
  }

  /** robots_table must be (host, txt). */
  private def robotsTable(a: Args): DataFrame = {
    val robots = a.table("robots_table")
    val m = missing(robots, "host", "txt")
    require(m.isEmpty, s"${a.fn}: robots_table lacks ${m.mkString(", ")}" +
      " — expected (host, txt)")
    robots
  }

  /** The one-row (qid, qtext) probe frame of the BM25 doors. */
  private def queryFrame(a: Args): DataFrame =
    a.spark.range(1).select(lit(0L).as("qid"), lit(a.str("query")).as("qtext"))

  private def someTerms(a: Args): Seq[String] = {
    val terms = a.words("query_terms")
    require(terms.nonEmpty, s"${a.fn}: query_terms must contain at least one term")
    terms
  }

  /** The perceptual near-dup doors: fingerprint the signal column as
    * (id, bits), then run the banded-hamming pair miner. */
  private def nearDupBits(a: Args, signal: String, bits: Column => Column,
                          pairs: (DataFrame, String, String, Int, Int) => DataFrame,
                          dropNull: Boolean = false): DataFrame = {
    val t = a.table("table")
    val (idCol, sigCol) = (a.str("id_col"), a.str(signal))
    val m = missing(t, idCol, sigCol)
    require(m.isEmpty, s"${a.fn}: table lacks ${m.mkString(", ")}")
    val hashed = t.select(col(idCol).as("id"), bits(col(sigCol)).as("bits"))
    pairs(if (dropNull) hashed.filter(col("bits").isNotNull) else hashed, "id", "bits",
      a.int("max_hamming"), a.int("bands"))
  }
}
