package graft.queries

import graft.Tables
import graft.functions.HeavyHitters
import graft.operators.{Search, Stats, TableLoc, TextProfile}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-4 query registrations: frequency sketches, distribution
  * profiling, corpus-quality filters, lexical search — the
  * profile-and-filter layer of a training-data pipeline.
  */
object Quality {

  /** The Space-Saving guarantee as one shared expression (q70 + q88): a
    * retained item's estimate bounds the true count from above and
    * overcounts by at most n/k; an absent item's true count is ≤ n/k.
    * Single source of truth for the sketch's correctness contract — any
    * future tightening of the bound changes both gates at once. */
  private def guaranteeOk(est: Column, nTerm: Column, nTotal: Column,
      k: Int): Column =
    when(est.isNotNull,
      est >= nTerm &&
        (est - nTerm).cast("double") <= nTotal.cast("double") / k)
      .otherwise(nTerm.cast("double") <= nTotal.cast("double") / k)

  /** Space-Saving heavy hitters over the document token stream, gated the
    * sketch way (q32/q47 convention): output = exact top-10 terms (fully
    * SQL-replayable) plus `guarantee_ok`, the deterministic Space-Saving
    * invariant — a retained item overcounts by at most n/k, an absent item
    * has true count ≤ n/k. The raw sketch content is merge-order-dependent
    * and is spec-tested instead (HeavyHittersSpec). */
  def q70HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val toks = Tables.load(s, dir, "documents")
      .select(explode(split(trim(col("text")), graft.functions.TextFunctions.WsRun)).as("term"))
      .filter(length(col("term")) > 0)
    val sketch = toks.agg(
      HeavyHitters.heavyHitters(col("term"), k).as("hh"),
      count(lit(1)).as("n_total"))
    val top = toks.groupBy("term").agg(count(lit(1)).as("n_term"))
      .orderBy(col("n_term").desc, col("term")).limit(10)
    top.crossJoin(broadcast(sketch))
      .withColumn("est", try_element_at(col("hh"), col("term")))
      .select(col("term"), col("n_term"),
        guaranteeOk(col("est"), col("n_term"), col("n_total"), k)
          .as("guarantee_ok"))
      .orderBy(col("n_term").desc, col("term"))
  }

  /** Grouped Space-Saving: heavy hitters PER LANGUAGE — the sketch as an
    * ordinary grouped aggregate (one partial-merged buffer per group, no
    * per-group topology anywhere). Gate: exact per-group top-3 plus the
    * per-group n/k invariant boolean. */
  def q88HeavyHittersByLang(s: SparkSession, dir: String): DataFrame = {
    val k = 32
    val toks = Tables.load(s, dir, "documents")
      .select(col("lang"), explode(split(trim(col("text")), graft.functions.TextFunctions.WsRun)).as("term"))
      .filter(length(col("term")) > 0)
    val sk = toks.groupBy("lang")
      .agg(HeavyHitters.heavyHitters(col("term"), k).as("hh"),
        count(lit(1)).as("n_total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n_term").desc, col("term"))
    val top = toks.groupBy("lang", "term").agg(count(lit(1)).as("n_term"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).drop("rk")
    top.join(broadcast(sk), "lang")
      .withColumn("est", try_element_at(col("hh"), col("term")))
      .select(col("lang"), col("term"), col("n_term"),
        guaranteeOk(col("est"), col("n_term"), col("n_total"), k)
          .as("guarantee_ok"))
      .orderBy(col("lang"), col("n_term").desc, col("term"))
  }

  /** Equi-width histogram of lineitem extended price (24 × 5000-wide
    * buckets over [0, 120000), open tails clamped). */
  def q71Histogram(s: SparkSession, dir: String): DataFrame =
    Stats.equiWidthHistogram(Tables.load(s, dir, "lineitem"),
        col("l_extendedprice"), 0.0, 120000.0, 24)
      .orderBy(col("bucket"))

  /** Reproducible Pearson correlation/covariance of (value, props.k) per
    * event type — moment sums through DECIMAL (built-in corr/covar are
    * partition-order-dependent running doubles), formulas applied once on
    * the aggregated values. try_cast, not cast: under ANSI (the Spark 4
    * default these sessions run with) a present-but-non-numeric '$.k'
    * must DROP the row — same as the oracle's TRY_CAST filter — not kill
    * a 100 TB job. */
  def q89Corr(s: SparkSession, dir: String): DataFrame =
    Stats.corrByKey(
        Tables.load(s, dir, "events")
          .withColumn("k",
            expr("try_cast(get_json_object(props, '$.k') AS double)"))
          .filter(col("k").isNotNull),
        col("event_type"), col("value"), col("k"))
      .withColumnRenamed("key", "event_type")
      .orderBy(col("event_type"))

  /** Exact equi-depth histogram of event values (10 buckets, deterministic
    * (value, event_id) order) — the audit-scale reference for q55's
    * mergeable approx-percentile edges. */
  def q90EquiDepth(s: SparkSession, dir: String): DataFrame =
    Stats.equiDepthHistogram(Tables.load(s, dir, "events"),
        col("value"), col("event_id"), 10)
      .orderBy(col("bucket"))

  /** The 100 TB equi-depth path q90's scaladoc promises: the same exact
    * ntile histogram computed over a DETERMINISTIC 10% hash-mod sample
    * (q56's content-addressed scheme — FNV-1a of the row key mod 100), so
    * the single-task window sees 1/10th (or any tunable fraction) of the
    * rows while the bucket edges remain replayable by any engine. At scale
    * the sample rate shrinks with N; the sampled edges converge to the true
    * quantiles at O(1/√(N·rate)) — this is exactly what
    * repartitionByRange's sampler estimates, made deterministic. */
  def q94EquiDepthSampled(s: SparkSession, dir: String): DataFrame =
    Stats.equiDepthHistogram(
        Tables.load(s, dir, "events")
          .filter(pmod(graft.functions.Fnv64.fnv64(col("event_id").cast("string")),
            lit(100L)) < 10),
        col("value"), col("event_id"), 10)
      .orderBy(col("bucket"))

  /** Gopher-style repetition metrics per document. */
  def q72Repetition(s: SparkSession, dir: String): DataFrame =
    TextProfile.repetitionMetrics(Tables.load(s, dir, "documents"), 0.2)
      .orderBy(col("doc_id"))

  /** PII redaction. The raw corpus contains no PII, so the query insures
    * the gate actually exercises the patterns by appending a
    * deterministic contact line (derived from existing columns) to every
    * document before scrubbing — the oracle replays the augmentation and
    * the redaction byte-for-byte. */
  def q73PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"), lit(" contact "), col("source"),
      lit("@example.com or 555-867-5309"))
    val (emails, phones) = TextProfile.piiCounts(aug)
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        emails.cast("bigint").as("n_emails"),
        phones.cast("bigint").as("n_phones"),
        TextProfile.piiRedact(aug).as("redacted"))
      .orderBy(col("doc_id"))
  }

  /** BM25 ranked retrieval for a two-term keyword query. Two terms keep
    * the per-doc score a single commutative double add (order-proof) on
    * top of the decimal-summed partials. */
  def q74Bm25(s: SparkSession, dir: String): DataFrame =
    Search.bm25(Tables.load(s, dir, "documents"), Seq("data", "query"), 10)
      .orderBy(col("score").desc, col("doc_id"))

  /** Hybrid retrieval capstone: q74's BM25 lexical top-10 fused with the
    * exact cosine top-10 for query vector 0 (q30's brute baseline) by
    * reciprocal-rank fusion (see [[graft.operators.Search.rrfFuse]]) —
    * the lexical+vector combination every RAG retrieval stack serves.
    * The synthetic corpus keys documents and embeddings by the same row
    * id space, which is what makes the fusion join meaningful here; a
    * real deployment retrieves both lists over the same document key. */
  /** q158: BM25 SERVED from the persisted postings + norms stores — the
    * lexical index finally gets the serve-from-store row the vector
    * families have (see [[graft.operators.IncrementalPostings
    * .bm25Bucketed]]): three ingestion dates append term-bucketed tf rows
    * AND doc-bucketed per-doc lengths (the norms table — Lucene's norms
    * file, Spark-shaped); the q74 query ("data", "query", top-10) is then
    * answered entirely from the accumulated stores — no token scan at
    * serve time, both store-side merges exchange-free on their bucket
    * layouts. tf and dl state are additive, so the oracle is EXACTLY
    * q74's one-shot SQL — a green hash proves store-served ==
    * from-scratch BM25. */
  def q158Bm25Store(s: SparkSession, dir: String): DataFrame = {
    val tbl = s"graft_q158_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq(tbl, s"${tbl}_dl")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q158_p")
    val docs = Tables.load(s, dir, "documents")
    graft.Phases.timed("build") {
      (0 until 3).foreach { d =>
        val slice = docs.filter(pmod(col("doc_id"), lit(3L)) === d)
        graft.operators.IncrementalPostings
          .appendCountsBucketed(slice, tbl, s"d$d")
        graft.operators.IncrementalPostings
          .appendNorms(slice, tbl, s"d$d")
      }
    }
    val out = graft.Phases.timed("serve") {
      graft.operators.IncrementalPostings
        .bm25Bucketed(s, tbl, Seq("data", "query"))
        .localCheckpoint() // eager: tables dropped before the caller's action
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("score").desc, col("doc_id"))
  }

  /** q160: DELETION PROPAGATION through the lexical serving store — the
    * opt-out/takedown pass as an oracle-gated row: q158's postings +
    * norms stores are built over three ingestion dates on the FULL
    * corpus, then [[graft.operators.IncrementalPostings.deleteDocs]]
    * physically removes every doc with doc_id % 7 = 3 (a deterministic
    * stand-in for a takedown list) from BOTH tables in marker-committed
    * rewrites, and the q74 query is served from the post-delete stores.
    * The oracle is q74's one-shot SQL over the corpus MINUS the
    * tombstones — a green hash proves store-after-delete equals
    * from-scratch-minus-docs (n_docs, avgdl, df all re-derived), i.e.
    * the documents are gone from the index, not masked. */
  def q160Bm25Tombstone(s: SparkSession, dir: String): DataFrame = {
    val tbl = s"graft_q160_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq(tbl, s"${tbl}_dl")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q160_p")
    val docs = Tables.load(s, dir, "documents")
    graft.Phases.timed("build") {
      (0 until 3).foreach { d =>
        val slice = docs.filter(pmod(col("doc_id"), lit(3L)) === d)
        graft.operators.IncrementalPostings
          .appendCountsBucketed(slice, tbl, s"d$d")
        graft.operators.IncrementalPostings.appendNorms(slice, tbl, s"d$d")
      }
    }
    graft.Phases.timed("maintain") {
      graft.operators.IncrementalPostings.deleteDocs(s, tbl,
        docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id"),
        gen = "del1")
    }
    val out = graft.Phases.timed("serve") {
      graft.operators.IncrementalPostings
        .bm25Bucketed(s, tbl, Seq("data", "query"))
        .localCheckpoint() // eager: tables dropped before the caller's action
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("score").desc, col("doc_id"))
  }

  /** q177: WHOLE-SOURCE MASS TAKEDOWN — q160's deletion-propagation
    * contract at the key-set scale a real retention event has (an entire
    * source/domain pulled from the corpus, not a takedown list): every
    * document of five of the twenty sources (25% of the corpus) is
    * physically removed from the postings + norms stores through the
    * NON-BROADCAST tombstone path ([[graft.operators.StoreMaintenance
    * .tombstoneLarge]] via `deleteDocs(large = true)`) — the anti-join
    * shuffles on doc_id instead of broadcasting a key set that at 100 TB
    * would be 10⁸+ ids, so per-task state stays bounded by partition
    * sizing (MemProbe carries the 4 GiB-ceiling row). Same oracle
    * contract as q160: q74's one-shot SQL over the surviving corpus — a
    * green hash proves the mass path drops exactly the tombstoned rows
    * and nothing else (n_docs, avgdl, df all re-derived). */
  def q177SourceTakedown(s: SparkSession, dir: String): DataFrame = {
    val tbl = s"graft_q177_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq(tbl, s"${tbl}_dl")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q177_p")
    val docs = Tables.load(s, dir, "documents")
    val pulled = Seq("src0", "src1", "src2", "src3", "src4")
    graft.Phases.timed("build") {
      (0 until 3).foreach { d =>
        val slice = docs.filter(pmod(col("doc_id"), lit(3L)) === d)
        graft.operators.IncrementalPostings
          .appendCountsBucketed(slice, tbl, s"d$d")
        graft.operators.IncrementalPostings.appendNorms(slice, tbl, s"d$d")
      }
    }
    graft.Phases.timed("maintain") {
      graft.operators.IncrementalPostings.deleteDocs(s, tbl,
        docs.filter(col("source").isInCollection(pulled)).select("doc_id"),
        gen = "takedown1", large = true)
    }
    val out = graft.Phases.timed("serve") {
      graft.operators.IncrementalPostings
        .bm25Bucketed(s, tbl, Seq("data", "query"))
        .localCheckpoint() // eager: tables dropped before the caller's action
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("score").desc, col("doc_id"))
  }

  /** q159: HYBRID retrieval served entirely FROM STORES — the full
    * production serving stack as one oracle-gated row: the lexical leg
    * is q158's store-served BM25 (term-bucketed tf + doc-bucketed norms,
    * built once per date), the dense leg is the q157 matryoshka store's
    * prefix-probed full-dim re-rank for query vector 0 (top-10), and
    * reciprocal-rank fusion (Cormack et al., SIGIR'09) merges the two
    * bounded rankings. Where q132 rebuilt both retrievers from scratch
    * inside the query, here every corpus-sized cost was paid at indexing
    * time — the serve touches query-term postings, probed posting lists,
    * and two 10-row rankings. The oracle replays q74's BM25, the
    * prefix-IVF pipeline (train, assign, probe, full-dim re-rank), and
    * the RRF arithmetic end to end. */
  def q159HybridStoreServe(s: SparkSession, dir: String): DataFrame = {
    val lexT = s"graft_q159_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val vecT = s"${lexT}v"
    val tbls = Seq(lexT, s"${lexT}_dl", s"${vecT}_ctr", s"${vecT}_cells")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q159_p")
    val docs = Tables.load(s, dir, "documents")
    val emb = Tables.load(s, dir, "embeddings")
    graft.Phases.timed("build") {
      // the two index LEGS are independent stores (disjoint tables), so
      // they build concurrently ([[graft.operators.FamilyPar]] — the
      // orchestrators' family overlap, applied to the hybrid stack the
      // way a production ingest runs both legs); each leg's DATES stay
      // sequential (the incremental-store contract)
      graft.operators.FamilyPar.foreach(Seq(
        () => (0 until 3).foreach { d =>
          val dslice = docs.filter(pmod(col("doc_id"), lit(3L)) === d)
          graft.operators.IncrementalPostings
            .appendCountsBucketed(dslice, lexT, s"d$d")
          graft.operators.IncrementalPostings.appendNorms(dslice, lexT, s"d$d")
        },
        () => {
          graft.operators.Matryoshka.initModel(
            emb.filter(pmod(col("vec_id"), lit(3L)) === 0), vecT)
          (0 until 3).foreach { d =>
            graft.operators.Matryoshka.appendDate(
              emb.filter(pmod(col("vec_id"), lit(3L)) === d), vecT, s"d$d")
          }
        }))(_())
    }
    val out = graft.Phases.timed("serve") {
      val rankW = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))
      val lex = graft.operators.IncrementalPostings
        .bm25Bucketed(s, lexT, Seq("data", "query"))
        // partition-less window is safe: it ranks the 10-row top-k result
        .withColumn("rank", row_number().over(rankW))
        .select(col("doc_id").as("id"), col("rank"))
      val vec = graft.operators.Matryoshka
        .search(s, vecT, emb.filter(col("vec_id") === 0), kNeighbors = 10)
        .select(col("cid").as("id"), col("rank"))
      graft.operators.Search.rrfFuse(Seq(lex, vec)).localCheckpoint()
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("rrf_score").desc, col("id"))
  }

  /** q165: the SERVING STACK honors a takedown — the capstone deletion
    * row: q159's hybrid stack (store-served BM25 + the matryoshka
    * store's prefix-probed full-dim top-10, RRF-fused) is built over
    * three dates on the full corpus, then BOTH legs get their tombstone
    * rewrites ([[graft.operators.IncrementalPostings.deleteDocs]] on
    * tf + norms, [[graft.operators.Matryoshka.deleteIds]] on the cell
    * store) and the fused serve runs on the survivors. The oracle
    * replays q159's SQL with the lexical corpus AND the dense candidate
    * set restricted — a green hash proves a deleted document can never
    * be retrieved through ANY leg of the stack, and that the fusion
    * arithmetic over the re-ranked survivors matches from-scratch-minus-
    * docs end to end. */
  def q165HybridTombstone(s: SparkSession, dir: String): DataFrame = {
    val lexT = s"graft_q165_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val vecT = s"${lexT}v"
    val tbls = Seq(lexT, s"${lexT}_dl", s"${vecT}_ctr", s"${vecT}_cells")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q165_p")
    val docs = Tables.load(s, dir, "documents")
    val emb = Tables.load(s, dir, "embeddings")
    graft.Phases.timed("build") {
      // the two index LEGS are independent stores (disjoint tables), so
      // they build concurrently ([[graft.operators.FamilyPar]] — the
      // orchestrators' family overlap, applied to the hybrid stack the
      // way a production ingest runs both legs); each leg's DATES stay
      // sequential (the incremental-store contract)
      graft.operators.FamilyPar.foreach(Seq(
        () => (0 until 3).foreach { d =>
          val dslice = docs.filter(pmod(col("doc_id"), lit(3L)) === d)
          graft.operators.IncrementalPostings
            .appendCountsBucketed(dslice, lexT, s"d$d")
          graft.operators.IncrementalPostings.appendNorms(dslice, lexT, s"d$d")
        },
        () => {
          graft.operators.Matryoshka.initModel(
            emb.filter(pmod(col("vec_id"), lit(3L)) === 0), vecT)
          (0 until 3).foreach { d =>
            graft.operators.Matryoshka.appendDate(
              emb.filter(pmod(col("vec_id"), lit(3L)) === d), vecT, s"d$d")
          }
        }))(_())
    }
    graft.Phases.timed("maintain") {
      // both legs' tombstone rewrites are independent too (disjoint
      // tables, own marker-committed gens) — overlap them like the
      // takedown orchestrator does
      graft.operators.FamilyPar.foreach(Seq(
        () => graft.operators.IncrementalPostings.deleteDocs(s, lexT,
          docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id"),
          gen = "del1"),
        () => graft.operators.Matryoshka.deleteIds(s, vecT,
          emb.filter(pmod(col("vec_id"), lit(7L)) === 3).select("vec_id"),
          gen = "del1")))(_())
    }
    val out = graft.Phases.timed("serve") {
      val rankW = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))
      val lex = graft.operators.IncrementalPostings
        .bm25Bucketed(s, lexT, Seq("data", "query"))
        // partition-less window is safe: it ranks the 10-row top-k result
        .withColumn("rank", row_number().over(rankW))
        .select(col("doc_id").as("id"), col("rank"))
      val vec = graft.operators.Matryoshka
        .search(s, vecT, emb.filter(col("vec_id") === 0), kNeighbors = 10)
        .select(col("cid").as("id"), col("rank"))
      graft.operators.Search.rrfFuse(Seq(lex, vec)).localCheckpoint()
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("rrf_score").desc, col("id"))
  }

  def q132HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val rankW = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    val lex = Search.bm25(Tables.load(s, dir, "documents"), Seq("data", "query"), 10)
      // partition-less window is safe here: it ranks the 10-row top-k
      // result, never corpus-sized data
      .withColumn("rank", row_number().over(rankW))
      .select(col("doc_id").as("id"), col("rank"))
    val emb = Tables.load(s, dir, "embeddings")
    val vec = graft.operators.Similarity
      .knnBrute(emb.filter(col("vec_id") === 0), emb, 10)
      .select(col("cid").as("id"), col("rank"))
    Search.rrfFuse(Seq(lex, vec))
  }

  /** Corpus-trained character-trigram LM score per document. */
  def q75TrigramLm(s: SparkSession, dir: String): DataFrame =
    TextProfile.trigramLmScore(Tables.load(s, dir, "documents"))
      .orderBy(col("doc_id"))

  /** CCNet head/middle/tail perplexity stratification: trigram-LM score →
    * sampled tercile edges → bucket per doc (see
    * [[graft.operators.TextProfile.perplexityBuckets]]). */
  def q107PerplexityBuckets(s: SparkSession, dir: String): DataFrame =
    TextProfile.perplexityBuckets(Tables.load(s, dir, "documents"))

  /** Whitespace vs BPE-style pre-token counts per doc (the token-budget
    * estimator; see [[graft.functions.TextFunctions.preTokenCounts]]). */
  def q108PreTokens(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val counts = graft.functions.TextFunctions.preTokenCounts(t)
      .map { case (name, c) => c.cast("bigint").as(name) }
    Tables.load(s, dir, "documents")
      .select(Seq(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(t).as("n_tokens")) ++ counts: _*)
      .orderBy(col("doc_id"))
  }

  /** Per-label embedding centroids — the distributed vector aggregation
    * behind semantic clustering / class prototypes: posexplode to
    * (label, dim, x) rows, one hash-aggregate on (label, dim), means
    * summed through DECIMAL for partition-order independence. Cross-engine
    * note: the double→DECIMAL cast rounds half-way cases differently in
    * corner cases (a float whose shortest decimal form terminates exactly
    * at the cut with a trailing 5 — DuckDB's cast is not consistently
    * half-up), but no component of this dataset hits one: verified
    * hash-exact at sf0.001/0.01/0.1. The row form (not an array rebuild)
    * IS the scale shape: 100 TB of vectors aggregate with map-side
    * combine and never collect a dimension axis anywhere. */
  def q76LabelCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("double").cast("decimal(28,10)")).cast("double").as("sum_x"))
      .select(col("label"), col("dim").cast("bigint").as("dim"), col("n"),
        round(col("sum_x") / col("n"), 6).as("mean_x"))
      .orderBy(col("label"), col("dim"))

  /** Deterministic WEIGHTED sampling without replacement (Efraimidis &
    * Spirakis, "Weighted random sampling with a reservoir", IPL'06 — the
    * A-ES scheme): each item draws u ∈ (0,1] and the top-k by u^(1/w)
    * win, giving inclusion probability ∝ weight. The uniform comes from
    * the CONTENT hash (FNV-1a, replayed by the oracle), not a seeded RNG,
    * so the sample is a pure function of the data — stable across runs,
    * engines, partitionings, and cluster sizes, the property q56's
    * unweighted hash-mod gate established. Ranking key = ln(u)/w
    * (monotone in u^(1/w), no pow needed); weight = document length, so
    * longer docs are proportionally likelier — the byte-budgeted corpus
    * subsampling shape. Top-k via TakeOrdered: no global sort at scale. */
  def q79WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val u = (shiftrightunsigned(graft.functions.Fnv64.fnv64(col("text")), 11) + 1)
      .cast("double") / lit(9007199254740992.0) // 2^53
    Tables.load(s, dir, "documents")
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars"),
        (log(u) / col("n_chars")).as("key"))
      .orderBy(col("key").desc, col("doc_id"))
      .limit(100)
      // + 0.0 canonicalizes IEEE negative zero: a key in (-5e-7, 0) rounds
      // to -0.0 in DuckDB (sign-preserving ROUND) but +0.0 through Spark's
      // BigDecimal path — adding positive zero maps both to +0.0
      .select(col("doc_id"), col("n_chars"),
        (round(col("key"), 6) + lit(0.0)).as("skey"))
  }

  /** Robust outlier detection per event type: median + MAD (median
    * absolute deviation), flagging |x − median| > 3·1.4826·MAD — the
    * classical robust z-score. Exact percentiles (Spark `percentile` ==
    * DuckDB `quantile_cont`, same interpolation); two key-partitioned
    * aggregation passes + broadcast joins of the tiny per-type stats. */
  def q80MadOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val med = e.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(min(col("med")), 6).as("median"),
        round(min(col("mad")), 6).as("mad_r"),
        sum(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** Shannon token entropy per document — the vocabulary-diversity quality
    * signal (low entropy = repetitive/templated text, complements q72's
    * repetition fractions). Per-term contributions −p·ln p rounded then
    * decimal-summed (exact, order-independent). */
  def q77TokenEntropy(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(trim(col("text")), graft.functions.TextFunctions.WsRun)).as("w"))
      .filter(length(col("w")) > 0)
    val tc = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val n = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
    val p = col("c").cast("double") / col("n_tokens")
    tc.join(n, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        round(-p * log(p), 6).cast("decimal(18,6)").as("h"))
      .groupBy("doc_id")
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("h")).cast("double").as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** Gopher rule-set quality gate: per-rule booleans + the conjunction
    * (see [[graft.operators.TextProfile.gopherRules]]). */
  def q111GopherRules(s: SparkSession, dir: String): DataFrame =
    TextProfile.gopherRules(Tables.load(s, dir, "documents"))

  /** BPE first-merge ranking: corpus-wide adjacent char-pair counts over
    * the pre-token vocabulary (see [[graft.operators.Bpe.pairCounts]]). */
  def q112BpePairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.pairCounts(Tables.load(s, dir, "documents"))

  /** Full BPE merge-loop trainer: 8 deterministic merges over the
    * pre-token vocabulary (see [[graft.operators.Bpe.trainMerges]]). */
  def q126BpeTrain(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.trainMerges(Tables.load(s, dir, "documents"))

  /** DSIR log importance weights against the English subset as target
    * (see [[graft.operators.Importance.dsirWeights]]). */
  def q114DsirWeights(s: SparkSession, dir: String): DataFrame =
    graft.operators.Importance.dsirWeights(Tables.load(s, dir, "documents"),
      col("lang") === "en")

  /** Top-50 PMI collocations with min pair count 5
    * (see [[graft.operators.Search.collocations]]). */
  def q116Collocations(s: SparkSession, dir: String): DataFrame =
    Search.collocations(Tables.load(s, dir, "documents"))

  /** Inverted-index postings: per-term df/cf + top-3 impact-ordered
    * postings (see [[graft.operators.Search.postings]]). */
  def q118Postings(s: SparkSession, dir: String): DataFrame =
    Search.postings(Tables.load(s, dir, "documents"))

  /** Heaps'-law vocabulary growth over id-range deciles
    * (see [[graft.operators.TextProfile.heapsAudit]]). */
  def q125HeapsAudit(s: SparkSession, dir: String): DataFrame =
    TextProfile.heapsAudit(Tables.load(s, dir, "documents"))

  /** Canonical-text dedup map: group documents by their normalized form
    * (lowercase, accent-fold, punctuation-strip, whitespace-collapse —
    * [[graft.operators.TextProfile.canonicalize]]), keep the smallest id
    * per group. The engine groups FNV hashes of the canonical text where
    * the oracle groups the strings (q101 convention); one hash-keyed
    * window, scan-local normalization. */
  def q123CanonicalDedup(s: SparkSession, dir: String): DataFrame = {
    val canon = TextProfile.canonicalize(col("text"))
    val byCanon = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), canon.as("__c"))
      .withColumn("__h", graft.functions.Fnv64.fnv64(col("__c")))
      .withColumn("n_copies", count(lit(1)).over(byCanon))
      .withColumn("keep_id", min(col("doc_id")).over(byCanon))
      .select(col("doc_id"), length(col("__c")).cast("bigint").as("canon_len"),
        col("n_copies"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("is_keeper"))
      .orderBy(col("doc_id"))
  }

  /** Incremental index maintenance: three date slices appended to a
    * persistent (term, doc, tf) store, then the same report as q118 —
    * additive state makes incremental == from-scratch (see
    * [[graft.operators.IncrementalPostings]]). */
  def q120IncrementalPostings(s: SparkSession, dir: String): DataFrame = {
    val store = s"/tmp/graft_q120_${ProcessHandle.current().pid()}_" +
      s"${Integer.toHexString(dir.hashCode)}/tfstore"
    // clean slate per (process, sf dir) — a stale store would double-count
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    val docs = Tables.load(s, dir, "documents")
    (0 until 3).foreach { d =>
      graft.operators.IncrementalPostings.appendCounts(
        docs.filter(pmod(col("doc_id"), lit(3L)) === d), store, s"d$d")
    }
    graft.operators.IncrementalPostings.report(s, store)
  }

  /** ENCODE the corpus with the q126-trained tokenizer: train the 8-merge
    * table, then per document count pre-tokens, post-merge tokens, and
    * chars-per-token — the apply side that makes q126's model a usable
    * tokenizer (see [[graft.operators.Bpe.encodeTokenCounts]]; the merge
    * table is bounded driver state, the k-means-centroid precedent). */
  def q131BpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val merges = graft.operators.Bpe.trainMerges(docs, nMerges = 8).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.operators.Bpe.encodeTokenCounts(docs, merges)
  }

  /** q120's incremental index through the BUCKETED tf store — the serving
    * layout Search's scaladoc promises (IncrementalPostings
    * .appendCountsBucketed / reportBucketed): tf rows persisted bucketed on
    * term, so every keyed report stage (tf merge, df/cf aggregate, top-k
    * window, stats join) reads the bucket layout and the report plans with
    * ZERO hash exchanges (pinned in IncrementalPostingsSpec). Same three
    * pseudo-dates and the same oracle as q118/q120 — a green hash gates
    * that the exchange-free variant a 100 TB deployment would serve from
    * is bit-equal to the from-scratch build. */
  /** q128's bucketed postings store with a RETENTION COMPACTION pass in
    * the middle (q135): three pseudo-dates append, then
    * [[graft.operators.StoreMaintenance.compact]] folds d0+d1 into one
    * consolidated `c_d1` partition — merging each doc's additive tf rows
    * (`Σ tf GROUP BY term, doc_id`) so compaction shrinks rows AND
    * files — and the report serves from the compacted store. Same oracle
    * as q118/q120/q128: compaction re-bins rows across `ds` without
    * changing any aggregate over the store, so a green hash gates that
    * the maintenance pass every long-lived store eventually needs is
    * invisible to its readers (file-count shrink, crash-resume, and the
    * zero-exchange plan on the compacted layout are pinned in
    * StoreMaintenanceSpec). */
  def q135PostingsCompacted(s: SparkSession, dir: String): DataFrame = {
    val tbl = s"graft_q135_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    // q128's lifecycle: clean slate + dead-pid orphan sweep
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    Warehouse.sweepOrphans(s, "graft_q135_p")
    val docs = Tables.load(s, dir, "documents")
    (0 until 3).foreach { d =>
      graft.operators.IncrementalPostings.appendCountsBucketed(
        docs.filter(pmod(col("doc_id"), lit(3L)) === d), tbl, s"d$d")
    }
    graft.operators.StoreMaintenance.compact(s, TableLoc(tbl), "d1",
      merge = _.groupBy("term", "doc_id").agg(sum(col("tf")).as("tf")))
    val out = graft.operators.IncrementalPostings.reportBucketed(s, tbl)
      .localCheckpoint() // table dropped below; the checkpoint holds the data
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    out.orderBy(col("term"), col("rnk"))
  }

  def q128PostingsBucketed(s: SparkSession, dir: String): DataFrame = {
    val tbl = s"graft_q128_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    // clean slate: the in-memory catalog dies with its process but the
    // managed warehouse dir persists — drop the current name AND sweep
    // graft_q128_p* ORPHANS (dead-pid names only: a crashed run's table
    // would otherwise leak forever, while a concurrent LIVE run's store
    // must never be deleted mid-query — see [[Warehouse.sweepOrphans]])
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    Warehouse.sweepOrphans(s, "graft_q128_p")
    val docs = Tables.load(s, dir, "documents")
    (0 until 3).foreach { d =>
      graft.operators.IncrementalPostings.appendCountsBucketed(
        docs.filter(pmod(col("doc_id"), lit(3L)) === d), tbl, s"d$d")
    }
    // eager materialization so the table can be dropped before the caller's
    // action (q92's note: a lazy plan over the store needs the table alive)
    val out = graft.operators.IncrementalPostings.reportBucketed(s, tbl)
      .localCheckpoint()
    s.sql(s"DROP TABLE IF EXISTS $tbl") // the checkpoint holds the data now
    out.orderBy(col("term"), col("rnk"))
  }
}
