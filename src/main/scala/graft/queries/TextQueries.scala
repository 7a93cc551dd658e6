package graft.queries

import graft.Tables
import graft.functions.{Fnv64, TextFunctions => TF}
import graft.operators.{Dedup, Similarity, StoreInventory, TableLoc}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query registrations for the LLM-pipeline extension operators: text
  * analysis (q40–q43), dedup (q20–q24) and similarity search (q30–q31)
  * over the `documents` / `embeddings` tables.
  */
object TextQueries {

  // ---- dedup -------------------------------------------------------------

  def q20DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.load(s, dir, "documents"))
      .orderBy(col("keep_id"))

  def q21NgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(Tables.load(s, dir, "documents"), 0.5)
      .orderBy(col("a_id"), col("b_id"))

  /** Frequency-capped exact Jaccard: shingles with df > 50 dropped before
    * pairing — bounds the inverted-index fan-out (the scale path for exact
    * pairing; see Dedup.ngramJaccard scaladoc). Oracle replays the cap. */
  def q52NgramJaccardCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(Tables.load(s, dir, "documents"), 0.5, maxDocFreq = Some(50))
      .orderBy(col("a_id"), col("b_id"))

  /** MinHash+LSH near-dup. Oracle-gated against the exact all-pairs Jaccard
    * SQL (q21's): LSH candidates are verified with exact Jaccard, so a hash
    * match means recall = 1.0 at this SF, not just matching row counts. */
  def q22MinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(Tables.load(s, dir, "documents"), 0.5)
      .orderBy(col("a_id"), col("b_id"))

  /** SimHash near-dup pairs. Fully deterministic (FNV-1a token hashes →
    * bit votes), so the oracle replays the whole signature computation in
    * DuckDB and checks pairs bit-exactly. */
  def q23Simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.load(s, dir, "documents"), 3)
      .orderBy(col("a_id"), col("b_id"))

  /** Embedding-cosine near-dup pairs — AUDIT BASELINE (unmitigated all-pairs
    * theta-join; q53 is the flagship scale-shaped variant with the same
    * oracle). Threshold 0.4: the synthetic embeddings' cosine tops out
    * ≈0.51, so 0.4 captures the closest-pair tail (~1e-4 of all pairs). */
  def q24EmbeddingNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDup(Tables.load(s, dir, "embeddings"), 0.4)
      .orderBy(col("a_id"), col("b_id"))

  /** Flagship embedding near-dup: EXACT blocked self-join (equi-join on
    * block ids, bounded per-task hash state, no cartesian/BNLJ — see
    * Similarity.cosineNearDupBlocked). Same oracle SQL as q24; identical
    * output by construction. The banded-LSH sub-quadratic path exists as
    * Similarity.cosineNearDupBanded and is spec-pinned at realistic
    * thresholds (this table's 0.4-threshold tail is information-
    * theoretically all-pairs: measured k-means 3-way multi-assign still
    * misses 27% of true pairs, hyperplane band recall ≈ 0.4/band). */
  def q53NearDupBlocked(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupBlocked(Tables.load(s, dir, "embeddings"), 0.4)
      .orderBy(col("a_id"), col("b_id"))

  /** Near-dup pairs → dedup CLUSTERS via distributed connected components
    * (min-label propagation, one edge-list shuffle per round — see
    * graft.operators.Components). Pairs come from the oracle-gated
    * MinHash+LSH path; the oracle replays the exact-Jaccard pairs and the
    * transitive closure with a recursive CTE, so the gate covers the
    * clustering semantics (component = min reachable doc id), not just the
    * pair list. */
  def q62DedupComponents(s: SparkSession, dir: String): DataFrame =
    graft.operators.Components.dedupClusters(
        Dedup.minhashLsh(Tables.load(s, dir, "documents"), 0.5))
      .select(col("id").as("doc_id"), col("component"),
        col("component_size"), col("is_canonical"))
      .orderBy(col("doc_id"))

  /** Quality-prioritized survivor selection over the q62 clusters: keep
    * the LONGEST member of each near-dup cluster (n_chars DESC, doc_id
    * tie-break — the C4 keep-the-longer-page convention), singletons
    * survive trivially (see
    * [[graft.operators.Components.survivorSelection]]). */
  def q115SurvivorSelection(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    graft.operators.Components.survivorSelection(
      docs, Dedup.minhashLsh(docs, 0.5))
  }

  /** Near-dup SPLIT-LEAKAGE audit (q140) — the eval-integrity lens the
    * n-gram decontamination check (q86) cannot provide: q86 catches
    * verbatim shingle overlap, but a val/test document whose NEAR-DUP
    * cluster (q62's transitive closure over the MinHash+LSH pairs)
    * contains any train member leaks the same content through chains of
    * variants (truncations, boilerplate edits) that 3-gram containment
    * misses. Per split (the q49/q100 deterministic doc_id-mod-10
    * assignment): total docs, docs whose component spans ≥2 splits, and
    * — the actionable number — val/test docs whose component contains a
    * train member (these must move or drop before the split ships).
    * Scale shape: label propagation is per-edge (q62's), the component
    * flags are one component-keyed aggregate, the report one split-keyed
    * aggregate — nothing all-pairs, nothing driver-side. The oracle
    * replays pairs, recursive-CTE closure, split arithmetic, and both
    * rates. */
  def q140SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val lab = graft.operators.Components
      .connected(Dedup.minhashLsh(docs, 0.5))
      .withColumnRenamed("id", "doc_id")
    val labeled = graft.operators.Corpus.datasetSplit(docs)
      .select(col("doc_id"), col("split"))
      .join(lab, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    val flags = labeled.groupBy(col("component"))
      .agg(countDistinct(col("split")).as("nsplits"),
        max(when(col("split") === "train", 1).otherwise(0)).as("has_train"))
    labeled.join(flags, "component")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nsplits") >= 2, 1L).otherwise(0L)).as("n_cross_split"),
        sum(when(col("split") =!= "train" && col("has_train") === 1, 1L)
          .otherwise(0L)).as("n_train_leak"))
      .select(col("split"), col("n_docs"), col("n_cross_split"),
        round(col("n_cross_split").cast("double") / col("n_docs"), 6)
          .as("cross_rate"),
        col("n_train_leak"),
        round(col("n_train_leak").cast("double") / col("n_docs"), 6)
          .as("train_leak_rate"))
      .orderBy(col("split"))
  }

  /** q146: cluster-atomic split ASSIGNMENT — the ACT to q140's DETECT (the
    * q141→q142 detect→act pattern applied to split leakage). Near-dup
    * components are assigned to train/val/test as a unit, keyed on the
    * component representative (see
    * [[graft.operators.Corpus.clusterAtomicSplit]]); the report proves the
    * fix: per split, doc and cluster counts, how many docs MOVED relative
    * to the naive id-hash split, and the recomputed cross-split count —
    * zero by construction, and the oracle replays the whole chain (pairs,
    * recursive closure, representative arithmetic, both splits) to agree.
    * Scale shape: q140's (per-edge propagation + one id-keyed join + one
    * split-keyed aggregate); the naive-split comparison is scan-local
    * arithmetic on the same rows. */
  def q146ClusterAtomicSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val assigned = graft.operators.Corpus.clusterAtomicSplit(
      docs, Dedup.minhashLsh(docs, 0.5))
    val naive = graft.operators.Corpus.datasetSplit(docs)
      .select(col("doc_id"), col("split").as("naive_split"))
    val flags = assigned.groupBy(col("rep"))
      .agg(countDistinct(col("split")).as("nsplits"))
    assigned.join(naive, "doc_id").join(flags, "rep")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_clusters"),
        sum(when(col("split") =!= col("naive_split"), 1L).otherwise(0L))
          .as("n_moved"),
        sum(when(col("nsplits") >= 2, 1L).otherwise(0L)).as("n_cross_split"))
      .orderBy(col("split"))
  }

  /** PageRank centrality over the near-dup graph (same oracle-gated
    * MinHash+LSH pairs as q62), 5 power iterations — within a dup cluster
    * the top-rank doc is the most-connected variant (a canonical-pick
    * criterion), and the unrolled-SQL oracle gates the whole iteration
    * arithmetic, not just connectivity. */
  def q81PageRank(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.pageRank(
        Dedup.minhashLsh(Tables.load(s, dir, "documents"), 0.5), 5)
      .select(col("id").as("doc_id"), round(col("pr"), 9).as("pagerank"))
      .orderBy(col("doc_id"))

  /** Longest duplicated span per document — the span-length lens on
    * q101's window hashes (see
    * [[graft.operators.Corpus.longestDupSpan]]). */
  def q122LongestDupSpan(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.longestDupSpan(Tables.load(s, dir, "documents"))

  /** Triangle counts + clustering coefficient over the same near-dup
    * graph as q62/q81 — triangle-dense components are true dup cliques,
    * triangle-free ones transitive drift (see
    * [[graft.operators.Graph.triangleStats]]). */
  def q121TriangleStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.triangleStats(
      Dedup.minhashLsh(Tables.load(s, dir, "documents"), 0.5))

  // ---- similarity search -------------------------------------------------

  /** q147: scalar-quantized (SQ8) ANN serve — the third index family next
    * to PQ/ADC (q96) and IVF (q44/q133): per-dimension trained uint8 grid,
    * 4× memory cut, asymmetric exact-query-vs-reconstructed-code cosine
    * top-3 for the q30 query set (see [[graft.operators.SQ]]). The oracle
    * replays grid training (exact MIN/MAX selection), the encode floor
    * arithmetic, reconstruction, and the decimal-summed scoring — the
    * whole index, not just the ranking. */
  def q147SqServe(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val grid = graft.operators.SQ.stats(e)
    val rec = graft.operators.SQ.reconstruct(graft.operators.SQ.encode(e, grid), grid)
    graft.operators.SQ.search(e.filter(col("vec_id") < 10), rec)
      .orderBy(col("qid"), col("rank"))
  }

  /** q152: the persisted incremental SQ8 store — the q133 store contract
    * applied to the third index family (see
    * [[graft.operators.IncrementalSQ]]): the per-dimension grid is
    * trained on the INITIAL ingestion date (vec_id % 3 = 0) and frozen as
    * the store's model table; each of three date slices then encodes its
    * own vectors once (saturated uint8 codes, id-bucketed append); the
    * asymmetric top-3 serve reads the accumulated store with no
    * re-encoding. The oracle replays the d0-trained grid, the clamped
    * encode floor tree over the union corpus, reconstruction, and the
    * decimal-summed scoring — a green hash gates store-served ==
    * from-scratch with the frozen grid (which DIFFERS from q147's
    * full-corpus grid exactly where saturation bites — the drift cost
    * the store accepts and the q141-style audit watches). */
  def q152SqStore(s: SparkSession, dir: String): DataFrame = {
    val base = s"graft_q152_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq(s"${base}_grid", s"${base}_codes")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q152_p")
    val emb = Tables.load(s, dir, "embeddings")
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    graft.Phases.timed("build") {
      graft.operators.IncrementalSQ.initGrid(slice(0), base)
      (0 until 3).foreach { d =>
        graft.operators.IncrementalSQ.appendDate(slice(d), base, s"d$d")
      }
    }
    val out = graft.Phases.timed("serve") {
      graft.operators.IncrementalSQ
        .search(s, base, emb.filter(col("vec_id") < 10))
        .localCheckpoint() // eager: tables dropped before the caller's action
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("qid"), col("rank"))
  }

  /** q157: the persisted MATRYOSHKA index (see
    * [[graft.operators.Matryoshka]]) — q153's two-stage serve as a
    * STORE: the IVF coarse quantizer trains and probes on the 16-dim
    * PREFIX (frozen at the d0 ingestion date), posting rows carry the
    * FULL vector, and the serve re-ranks only the probed lists by exact
    * full-dimension cosine. Stage 1 pays quarter-dimension arithmetic,
    * stage 2 full precision, the corpus is assigned once per row ever.
    * The oracle replays prefix k-means training (hash-least seeds, one
    * Lloyd update), full-corpus prefix assignment, prefix probe
    * ranking, and the full-dim re-rank — the whole index bit-for-bit. */
  def q157MatryoshkaStore(s: SparkSession, dir: String): DataFrame = {
    val base = s"graft_q157_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq(s"${base}_ctr", s"${base}_cells")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q157_p")
    val emb = Tables.load(s, dir, "embeddings")
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    graft.Phases.timed("build") {
      graft.operators.Matryoshka.initModel(slice(0), base)
      (0 until 3).foreach { d =>
        graft.operators.Matryoshka.appendDate(slice(d), base, s"d$d")
      }
    }
    val out = graft.Phases.timed("serve") {
      graft.operators.Matryoshka
        .search(s, base, emb.filter(col("vec_id") < 10))
        .localCheckpoint() // eager: tables dropped before the caller's action
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("qid"), col("rank"))
  }

  /** q156: q152's SQ8 store cycle with RETENTION MAINTENANCE in the
    * middle — after d1, the d0+d1 code partitions fold into one
    * consolidated `c_d1` partition through [[graft.operators
    * .StoreMaintenance.compact]] (bucket spec read from catalog metadata,
    * marker-committed crash protocol); d2 then appends against the
    * compacted store and the serve reads the accumulated codes. Codes
    * are disjoint per-id state (no additive merge needed), so the fold
    * is a pure re-bin and the oracle is EXACTLY q152's — a green hash
    * proves maintenance changed the layout, not one code. The
    * mid-cycle `maintain` phase lands in the bench phases map. */
  def q156SqStoreCompacted(s: SparkSession, dir: String): DataFrame = {
    val base = s"graft_q156_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq(s"${base}_grid", s"${base}_codes")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q156_p")
    val emb = Tables.load(s, dir, "embeddings")
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    def ingest(d: Int): Unit =
      graft.operators.IncrementalSQ.appendDate(slice(d), base, s"d$d")
    graft.Phases.timed("build") {
      graft.operators.IncrementalSQ.initGrid(slice(0), base)
      ingest(0); ingest(1)
    }
    graft.Phases.timed("maintain") {
      graft.operators.StoreMaintenance.compact(s, TableLoc(s"${base}_codes"),
        "d1")
    }
    graft.Phases.timed("build") { ingest(2) }
    // own phase label: a serve regression AFTER a fold (e.g. a bucket
    // spec lost in the re-bin) must show as a serve_postfold row, not
    // hide inside the lifecycle headline
    val out = graft.Phases.timed("serve_postfold") {
      graft.operators.IncrementalSQ
        .search(s, base, emb.filter(col("vec_id") < 10))
        .localCheckpoint() // eager: tables dropped before the caller's action
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("qid"), col("rank"))
  }

  /** q154: SQ8 code-drift audit — the q141 detect for the SCALAR index
    * family: under the store's frozen d0-trained grid, each ingestion
    * date's per-dimension CODE distributions are compared against the
    * init date's by population stability index, alongside the
    * SQ-specific signal q141 has no analog for — the SATURATION fraction
    * (codes clamped to 0/255), which is exactly how grid drift
    * manifests in a scalar quantizer: components outside the trained
    * range pile up on the edges and reconstruction error grows
    * invisibly to occupancy-style audits. Output per date: code count,
    * saturated fraction, and the mean/max per-dimension PSI (Laplace
    * +1/|support| smoothing over the dim's observed code support;
    * each ≤256-term sum rounds to 12 and decimal-sums, per-dim PSIs
    * round to 6 before the mean — oracle replays every step; d0 is
    * identically zero by construction). PSI > 0.25 or a rising
    * sat_frac is the [[graft.operators.IncrementalSQ.refitGrid]]
    * trigger (q155 is the act). Scale shape: everything past the
    * encode scan is (nDates·nDims·256)-bounded. */
  def q154SqCodeDrift(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val grid = graft.operators.SQ.stats(
      emb.filter(pmod(col("vec_id"), lit(3L)) === 0))
    // (date, dim, code) counts — bounded at 3·nDims·256 rows
    val cnt = graft.operators.SQ.encode(emb, grid)
      .withColumn("dt", pmod(col("id"), lit(3L)))
      .groupBy(col("dt"), col("dim"), col("code"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val supp = cnt.select(col("dim"), col("code")).distinct()
    val sdim = supp.groupBy(col("dim")).agg(count(lit(1)).as("sd"))
    val grid3 = s.range(3).select(col("id").as("dt")).crossJoin(supp)
    val full = grid3.join(cnt, Seq("dt", "dim", "code"), "left")
      .select(col("dt"), col("dim"), col("code"),
        coalesce(col("n"), lit(0L)).as("n"))
    val nd = full.groupBy(col("dt"), col("dim")).agg(sum(col("n")).as("ndv"))
    val wp = full.join(nd, Seq("dt", "dim")).join(sdim, "dim")
      .select(col("dt"), col("dim"), col("code"),
        ((col("n") + 1).cast("double") / (col("ndv") + col("sd"))).as("p"))
    val bq = wp.filter(col("dt") === 0)
      .select(col("dim"), col("code"), col("p").as("q"))
    val perdim = wp.join(bq, Seq("dim", "code"))
      .withColumn("term",
        round((col("p") - col("q")) * log(col("p") / col("q")), 12))
      .groupBy(col("dt"), col("dim"))
      .agg(round(sum(col("term").cast("decimal(28,12)")).cast("double"), 6)
        .as("psi"))
    val sat = cnt.groupBy(col("dt")).agg(
      sum(col("n")).as("n_codes"),
      sum(when(col("code") === 0 || col("code") === 255, col("n"))
        .otherwise(lit(0L))).as("nsat"))
    perdim.groupBy(col("dt"))
      .agg(round(sum(col("psi").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("psi_mean"),
        max(col("psi")).as("psi_max"))
      .join(sat, "dt")
      .select(concat(lit("d"), col("dt")).as("ds"),
        col("n_codes").cast("bigint").as("n_codes"),
        round(col("nsat").cast("double") / col("n_codes"), 6).as("sat_frac"),
        col("psi_mean"), col("psi_max"))
      .orderBy(col("ds"))
  }

  /** q155: drift-triggered SQ8 grid REFIT + store migration — the ACT
    * to q154's detect, and the scalar-family twin of q142: build the
    * q152 store (d0-frozen grid, three date appends), then refit the
    * grid on the post-init corpus (vec_id % 3 ≥ 1) and migrate every
    * stored code through [[graft.operators.IncrementalSQ.refitGrid]]'s
    * marker-committed reconstruct-re-encode fold — codes are NOT
    * invertible, so the migration quantizes the OLD reconstruction
    * under the NEW grid (the documented trade for never re-reading the
    * corpus; production fleets that dropped the float32 vectors have no
    * other option). The serve then reads the migrated store. The
    * oracle replays the ENTIRE double-quantization chain — d0 grid,
    * clamped encode, reconstruction, the %3≥1-trained refit grid, the
    * clamped RE-encode of the reconstruction, second reconstruction,
    * decimal-summed asymmetric serve — so a green hash gates the
    * compounded-error path bit-for-bit, not just the happy path. */
  def q155SqRefit(s: SparkSession, dir: String): DataFrame = {
    val base = s"graft_q155_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    // _grid_prev: a crashed rep's pending-refit snapshot must not wedge
    // the next rep (appendDate/search fail closed while it exists)
    val tbls = Seq(s"${base}_grid", s"${base}_grid_prev", s"${base}_codes")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q155_p")
    val emb = Tables.load(s, dir, "embeddings")
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    graft.Phases.timed("build") {
      graft.operators.IncrementalSQ.initGrid(slice(0), base)
      (0 until 3).foreach { d =>
        graft.operators.IncrementalSQ.appendDate(slice(d), base, s"d$d")
      }
    }
    graft.Phases.timed("migrate") {
      graft.operators.IncrementalSQ.refitGrid(s, base,
        emb.filter(pmod(col("vec_id"), lit(3L)) >= 1), gen = "refit1")
    }
    val out = graft.Phases.timed("serve") {
      graft.operators.IncrementalSQ
        .search(s, base, emb.filter(col("vec_id") < 10))
        .localCheckpoint() // eager: tables dropped before the caller's action
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("qid"), col("rank"))
  }

  /** q150: MATRYOSHKA truncation recall audit (Kusupati et al.,
    * "Matryoshka Representation Learning", NeurIPS 2022): serve the q30
    * brute top-3 from only the FIRST 16 of 64 dimensions (the 4×-cheaper
    * prefix a matryoshka-trained model is meant to make sufficient) and
    * report per-query overlap@3 against the full-dimension ranking — the
    * measured answer to "can this corpus's searches run at quarter
    * dimension". Both rankings are the same brute pipeline (round-6
    * cosine, cid tie-break); the truncated side just slices the vector,
    * so the oracle replays both and the set intersection. Scale shape:
    * two bounded-query broadcast scans + one (qid)-keyed count. */
  def q150MatryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val tr = e.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
    val full = Similarity.knnBrute(e.filter(col("vec_id") < 10), e, 3)
      .select(col("qid"), col("cid"))
    val trunc = Similarity.knnBrute(tr.filter(col("vec_id") < 10), tr, 3)
      .select(col("qid"), col("cid"))
    full.join(trunc.withColumn("m", lit(1)), Seq("qid", "cid"), "left")
      .groupBy(col("qid")).agg(count(col("m")).as("n_hit"))
      .select(col("qid"), col("n_hit"),
        round(col("n_hit").cast("double") / 3d, 6).as("recall3"))
      .orderBy(col("qid"))
  }

  /** q153: MATRYOSHKA two-stage SERVE — q150's audit turned into the
    * production pattern it motivates (Kusupati et al., NeurIPS 2022):
    * stage 1 generates top-`depth` candidates per query from the 16-dim
    * PREFIX (4× cheaper per comparison — at fleet scale this is the stage
    * an index accelerates; any prefix index slots in, the composition is
    * what's gated here); stage 2 re-ranks ONLY those candidates with the
    * full-dimension exact cosine and serves top-3. Run at two candidate
    * depths (8 and 24) with a per-row `hit_full3` flag against the
    * full-dim brute top-3, so recall@3-vs-depth — the knob a deployment
    * actually tunes — is read straight off the result. Scale shape:
    * stage 2 touches |Q|·depth candidate vectors (broadcast-joined),
    * never the corpus. */
  def q153MatryoshkaTwoStage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val tr = e.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
    // stage 1 once at the max depth; shallower depths are prefixes of the
    // same truncated ranking
    val cand = Similarity.knnBrute(tr.filter(col("vec_id") < 10), tr, 24)
      .select(col("qid"), col("cid"), col("rank").as("crank"))
      .join(broadcast(Seq(8, 24).toDF("depth")), col("crank") <= col("depth"))
    val qf = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        Similarity.norm(col("embedding")).as("qn"))
    val cf = e.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      Similarity.norm(col("embedding")).as("cn"))
    val rr = broadcast(cand.join(qf, "qid")).join(cf, "cid")
      .withColumn("cosine",
        round(Similarity.dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("depth"), col("qid"))
      .orderBy(col("cosine").desc, col("cid"))
    val full3 = Similarity.knnBrute(e.filter(col("vec_id") < 10), e, 3)
      .select(col("qid"), col("cid")).withColumn("m", lit(1))
    rr.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .join(full3, Seq("qid", "cid"), "left")
      .select(col("depth").cast("bigint").as("depth"), col("qid"),
        col("rank").cast("bigint").as("rank"), col("cid"), col("cosine"),
        col("m").isNotNull.as("hit_full3"))
      .orderBy(col("depth"), col("qid"), col("rank"))
  }

  /** Brute-force cosine top-3 for query vectors vec_id < 10 (oracle-checked). */
  def q30KnnBrute(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    Similarity.knnBrute(e.filter(col("vec_id") < 10), e, 3)
      .orderBy(col("qid"), col("rank"))
  }

  /** LSH-bucketed ANN for the same queries. The oracle replays the full
    * deterministic LSH pipeline in DuckDB (hyperplane buckets from the same
    * splitmix64 weights, Hamming-1 multi-probe, rank-within-probed) — a
    * bit-exact gate on the actual ANN semantics, not on brute-force top-k
    * (these embeddings are near-random at NN granularity, so ANN ≠ exact). */
  def q31KnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    Similarity.knnLsh(e.filter(col("vec_id") < 10), e, 3)
      .orderBy(col("qid"), col("rank"))
  }

  /** IVF ANN ranked rows, gated BIT-FOR-BIT (round 10): the query now
    * serves [[graft.operators.Similarity.knnIvfDeterministic]] — the
    * repo's SQL-replayable k-means as coarse quantizer (10% FNV-mod fit
    * sample, one full assignment pass, 6-probe cell ranking by the
    * quantizer's own metric), so the oracle replays quantizer training,
    * assignment, probing, and cosine ranking exactly and the registry
    * carries ZERO NULL-masked columns. The MLlib-quantized [[
    * graft.operators.Similarity.knnIvf]] variant (k-means||, not
    * SQL-replayable) stays as the engine-nondeterminism comparison in
    * SimilaritySpec. nProbe 6/16: the synthetic embeddings are
    * near-random at NN granularity, so a tighter probe would miss weakly
    * correlated true neighbors (q127 reports the measured recall). */
  def q44KnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    Similarity.knnIvfDeterministic(e.filter(col("vec_id") < 10), e, 3,
        nProbe = 6)
      .orderBy(col("qid"), col("rank"))
  }

  /** ANN recall@3 audit: LSH / IVF / ADC overlap with q30's exact
    * brute-force top-3 (see [[graft.operators.Similarity.recallAudit]]).
    * IVF config matches q44 (nProbe=6, floor 0.4). */
  def q127RecallAudit(s: SparkSession, dir: String): DataFrame =
    Similarity.recallAudit(Tables.load(s, dir, "embeddings"),
      col("vec_id") < 10)

  // ---- text analysis -----------------------------------------------------

  def q40TextStats(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), TF.tokenCount(col("text")).as("token_count"),
        length(col("text")).cast("bigint").as("char_len"),
        round(TF.avgWordLen(col("text")), 6).as("avg_word_len"),
        // BPE-ish LLM-token estimate: subword chunks of ≤4 chars per word
        // (the chars/4 heuristic, floored at one token per word)
        ceil(length(col("text")).cast("double") / 4.0).cast("bigint")
          .as("est_bpe_tokens"))
      .orderBy(col("doc_id"))

  def q41TextQuality(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), TF.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))

  def q42LangId(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .groupBy(TF.langId(col("text")).as("pred_lang"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("pred_lang"), col("lang"))

  /** Char-trigram naive-Bayes language identification (q134) — the other
    * half of CCNet's pipeline next to q107's perplexity stratification
    * (Wenzek et al., "CCNet", LREC 2020 §3: a fastText-style language-ID
    * gate precedes the LM filter; this is its classical n-gram
    * naive-Bayes ancestor, Cavnar & Trenkle 1994): per-language trigram
    * models train on the DETERMINISTIC 50% content-addressed holdout
    * (q56's FNV-mod scheme over doc_id), every document scores against
    * every candidate language with add-one smoothing, argmax predicts.
    *
    * score(d, l) = round₆(ln ndl/nd) + Σ_(tri ∈ d) tf · round₆(ln
    * ((c(tri,l)+1)/(N_l+V))) — per-term lns rounded to 6, DECIMAL-summed
    * (order-proof), argmax ties → smaller language code; the oracle
    * replays split, model, smoothing, and argmax exactly.
    *
    * Scale shape: trigram extraction is scan-local (native generator);
    * the model is vocabulary-bounded (≤ |charset|³·|langs| rows) →
    * broadcast; scoring is one broadcast join over the (doc, tri, tf)
    * aggregate ×|langs| candidates, then (doc, lang)- and (doc)-keyed
    * hash aggregates — no data-sized shuffle beyond the tf aggregate.
    * Unseen trigrams (test-only vocabulary) still score: the LEFT join's
    * null count smooths to ln(1/(N_l+V)), exactly Laplace. */
  def q134LangIdNb(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    nbArgmax(docs, nbDocLangScores(docs))
  }

  /** The q134 prediction tail — per-doc argmax (ties → smaller language
    * code), truth join, exact-decimal score to double. Shared with q145,
    * whose scores come from the incremental model store. */
  private def nbArgmax(docs: DataFrame, scores: DataFrame): DataFrame =
    scores.groupBy("doc_id")
      .agg(min(struct((-col("score")).as("ns"), col("cand"))).as("best"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("best.cand").as("pred_lang"),
        (-col("best.ns")).cast("double").as("score"),
        (col("best.cand") === col("lang")).as("is_correct"))
      .orderBy(col("doc_id"))

  /** Incrementally-maintained NB language-ID model (q145) — q134 served
    * from the additive model store: three ingestion dates each append
    * their labeled training docs' (cand, tri, c) counts and (cand, ndl)
    * priors (see [[graft.operators.IncrementalLangModel]]); the
    * accumulated sums rebuild the exact one-shot model, so the full
    * corpus scored against the store gates against q134's own oracle —
    * the classifier absorbs each day's labels at append cost (two
    * vocabulary-bounded aggregates over the NEW docs only), never a
    * retraining pass over history. */
  def q145IncrementalLangModel(s: SparkSession, dir: String): DataFrame = {
    val store = s"/tmp/graft_q145_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    Warehouse.sweepTmpOrphans("graft_q145_") // crashed foreign runs
    // clean slate per (process, sf dir) — the q91/q109 lifecycle
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    val docs = Tables.load(s, dir, "documents")
    (0 until 3).foreach { d =>
      graft.operators.IncrementalLangModel.appendCounts(
        docs.filter(pmod(col("doc_id"), lit(3L)) === d), store, s"d$d")
    }
    val (model, priors) = graft.operators.IncrementalLangModel.model(s, store)
    nbArgmax(docs, nbScoresAgainst(docs, model, priors,
      priors.agg(sum(col("ndl")).as("nd"))))
  }

  /** q166: EXACT UNLEARNING of the incremental NB language model — the
    * takedown reaching the MODEL itself: q145's store is built over
    * three dates on the full corpus, then
    * [[graft.operators.IncrementalLangModel.deleteDocs]] DECREMENTS the
    * doc_id % 7 = 3 training docs' trigram counts and priors (counting
    * models unlearn exactly — the post-delete sums are bit-equal to a
    * from-scratch train over the survivors, including the vocabulary V
    * and candidate set shrinking when counts reach zero), and the
    * surviving docs are scored against the unlearned model. The oracle
    * replays q134's full train+score pipeline over the surviving corpus
    * only — a green hash proves the decrement IS retraining, with none
    * of the retraining cost (two vocabulary-sized folds). */
  def q166NbUnlearn(s: SparkSession, dir: String): DataFrame = {
    val store = s"/tmp/graft_q166_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    Warehouse.sweepTmpOrphans("graft_q166_") // crashed foreign runs
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    val docs = Tables.load(s, dir, "documents")
    graft.Phases.timed("build") {
      (0 until 3).foreach { d =>
        graft.operators.IncrementalLangModel.appendCounts(
          docs.filter(pmod(col("doc_id"), lit(3L)) === d), store, s"d$d")
      }
    }
    graft.Phases.timed("maintain") {
      graft.operators.IncrementalLangModel.deleteDocs(
        docs.filter(pmod(col("doc_id"), lit(7L)) === 3), store, gen = "del1")
    }
    val kept = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3)
    val out = graft.Phases.timed("serve") {
      val (model, priors) = graft.operators.IncrementalLangModel.model(s, store)
      nbArgmax(kept, nbScoresAgainst(kept, model, priors,
        priors.agg(sum(col("ndl")).as("nd")))).localCheckpoint()
    }
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    out.orderBy(col("doc_id"))
  }

  /** The doc × candidate-language NB score frame behind q134/q138/q139:
    * (doc_id, cand, score) with score the EXACT decimal
    * round₆(ln ndl/nd) + Σ tf·round₆(ln smoothed-likelihood) — see
    * [[q134LangIdNb]] for the model and scale shape. Kept exact (no
    * double cast) so downstream consumers (argmax, top-2 margin) stay
    * bit-replayable in the oracle. */
  private def nbDocLangScores(docs: DataFrame): DataFrame = {
    val tris = docs.select(col("doc_id"), col("lang"),
      graft.functions.CharNgramRows.charNgramRows(col("text"), 3).as("tri"))
    val isTrain =
      pmod(Fnv64.fnv64(col("doc_id").cast("string")), lit(100L)) < 50
    val model = tris.filter(isTrain)
      .groupBy(col("lang").as("cand"), col("tri"))
      .agg(count(lit(1)).as("c"))
    val priors = docs.filter(isTrain)
      .groupBy(col("lang").as("cand")).agg(count(lit(1)).as("ndl"))
    nbScoresAgainst(docs, model, priors,
      docs.filter(isTrain).agg(count(lit(1)).as("nd")))
  }

  /** Score `docs` against an EXTERNAL NB model — the q134 arithmetic
    * with the training state injected: `model` = (cand, tri, c) trigram
    * counts, `priors` = (cand, ndl) doc counts, `totalsNd` = a one-row
    * (nd) frame with the training-corpus size. [[nbDocLangScores]]
    * passes the state it fits in-statement; q145 passes the accumulated
    * sums of its incremental store (bit-equal by additivity). */
  private[queries] def nbScoresAgainst(docs: DataFrame, model: DataFrame,
      priors: DataFrame, totalsNd: DataFrame): DataFrame = {
    // FROZEN-model per-row scoring (optimization guide §2.4, the
    // ModelExpressions precedent): the trigram explode + (doc, tri)
    // aggregate + model broadcast-join + (doc, cand) aggregate — two
    // corpus-sized exchanges — collapse into one scan-local generator
    // against the driver-collected model (vocabulary-sized: the exact
    // frame the old plan broadcast). Collect is EAGER at plan
    // construction; every call site builds the model AFTER its last
    // store mutation. Arithmetic is bit-equal by NbScoreRows' contract
    // (scale-6 fixed point == the old decimal(28,6) term sum); docs
    // shorter than one trigram emit nothing, as the old docTf aggregate
    // had no rows for them. Only the |langs|-row prior join and the
    // consumer's own aggregation remain post-scan.
    val m = graft.functions.NbScoreRows.collect(model)
    val scored = docs.select(col("doc_id"),
      graft.functions.NbScoreRows.nbScoreRows(col("text"), m)
        .as(Seq("cand", "sterms")))
    val pri = priors.crossJoin(totalsNd) // |langs| rows: (cand, ndl, nd)
    scored.join(broadcast(pri), "cand")
      .select(col("doc_id"), col("cand"),
        (col("sterms") +
          round(log(col("ndl").cast("double") / col("nd")), 6)
            .cast("decimal(18,6)")).as("score"))
  }

  /** Confidence-gated language ID (q138) — CCNet's actual gate semantics
    * (Wenzek et al., LREC 2020 §3.2 drop documents whose language-ID
    * score is below a threshold; fastText reports a probability, the NB
    * analogue is the TOP-2 LOG-SCORE MARGIN, a monotone transform of the
    * posterior odds ratio): every doc keeps its argmax prediction only
    * when score₁ − score₂ ≥ `minMargin` (log-odds units), else it lands
    * in the 'unknown' bucket. Measured on this corpus at sf0.01: the
    * default margin 2.0 keeps ~60% of docs and lifts accuracy on the
    * kept set 0.46 → 0.56 (monotone further at higher thresholds) — the
    * precision/recall dial the flag exposes.
    *
    * The margin is the exact decimal difference of two exact decimal
    * scores (cast to double only for output), so the gate replays
    * bit-for-bit in the oracle. Top-2 extraction is ONE doc-keyed window
    * over the |langs|-wide score frame + one conditional aggregate — no
    * self-join. */
  def langIdConfident(s: SparkSession, dir: String,
      minMargin: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(s, dir, "documents")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cand"))
    val top2 = nbDocLangScores(docs)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy("doc_id")
      .agg(max(when(col("rn") === 1, col("cand"))).as("c1"),
        max(when(col("rn") === 1, col("score"))).as("s1"),
        max(when(col("rn") === 2, col("score"))).as("s2"))
    val margin = (col("s1") - col("s2")).cast("double")
    top2.join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"),
        when(margin >= minMargin, col("c1")).otherwise(lit("unknown"))
          .as("pred_lang"),
        margin.as("margin"),
        (margin >= minMargin).as("is_confident"))
      .orderBy(col("doc_id"))
  }

  def q138LangIdConfident(s: SparkSession, dir: String): DataFrame =
    langIdConfident(s, dir, minMargin = 2.0)

  /** Fused CCNet pipeline (q139) — the two halves chained the way Wenzek
    * et al. run them (the q110 fused-plan precedent): the q138 margin
    * gate picks confidently-identified documents, and q107's perplexity
    * stratification runs ON THE SURVIVOR CORPUS ONLY — the trigram LM
    * trains on gated text (CCNet trains its LM per identified language
    * on clean text; the survivor corpus is this engine's analogue), and
    * tercile edges come from the deterministic hash-mod sample of the
    * survivors. Output: one row per surviving document with its
    * predicted language and head/middle/tail fluency bucket — the frame
    * a curation pipeline feeds to the q104 mixture step. One Catalyst
    * plan end to end; both stages keep their own scale shapes (broadcast
    * NB model / broadcast LM + bounded-sample sort). */
  def q139CcnetPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val surv = langIdConfident(s, dir, minMargin = 2.0)
      .filter(col("is_confident"))
      .select(col("doc_id"), col("pred_lang"))
    val gated = docs.join(surv, "doc_id")
    graft.operators.TextProfile.perplexityBuckets(gated)
      .join(surv, "doc_id")
      .select(col("doc_id"), col("pred_lang"), col("avg_lnp"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** FNV-1a content fingerprint via the custom codegen'd Catalyst
    * expression. The oracle replays FNV-1a byte-for-byte in DuckDB
    * (HUGEINT mod-2^64 fold over the UTF-8 bytes) — bit-exact gate. */
  def q43Fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), Fnv64.fnv64(lower(trim(col("text")))).as("fp"))
      .orderBy(col("doc_id"))

  /** TF-IDF top-3 terms per document: whitespace tokens, smoothed
    * idf = ln((N+1)/(df+1)), rank by (score desc, term). Three shuffles
    * total (tf agg, df agg, per-doc top-k window) — all key-partitioned,
    * no all-pairs anywhere; the corpus size N joins in as a broadcast
    * one-row aggregate, not a driver-side count. */
  def q64TfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val toks = docs.select(col("doc_id"),
        explode(split(trim(col("text")), graft.functions.TextFunctions.WsRun)).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.distinct().groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val score = round(col("tf") * log((col("n") + lit(1.0)) / (col("df") + lit(1.0))), 6)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("tfidf", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank").cast("bigint").as("rank"),
        col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Embedding post-processing for storage/serving: L2 norm + symmetric
    * int8 quantization (round(127·x/‖x‖) per component), emitted as a
    * comma-joined string so the hash gate covers every component. Uses the
    * native codegen'd Quant8F expression (a transform() HOF would run
    * interpreted per element); the arithmetic is double end-to-end (same
    * as the cosine queries), so DuckDB replays it bit-exactly with
    * list_transform. */
  def q66EmbeddingQuantize(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .withColumn("nrm", Similarity.norm(col("embedding")))
      .select(col("vec_id"), round(col("nrm"), 6).as("norm"),
        graft.functions.VectorExpressions
          .quant8F(col("embedding"), col("nrm")).as("q8"))
      .orderBy(col("vec_id"))

  /** Winnowed rolling-hash document fingerprints (MOSS scheme, window=4):
    * per doc, the count/xor/min/max of its winnowed fingerprint set — a
    * deterministic digest of the whole set, so the hash gate covers every
    * selected fingerprint. The oracle replays positioned-shingle FNV-1a
    * hashing AND the sliding-window minimum selection in SQL. */
  def q67Winnowing(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowedHashes(Tables.load(s, dir, "documents"), 4)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_fp"), expr("bit_xor(fp)").as("fp_xor"),
        min(col("fp")).as("fp_min"), max(col("fp")).as("fp_max"))
      .select(col("id").as("doc_id"), col("n_fp"), col("fp_xor"),
        col("fp_min"), col("fp_max"))
      .orderBy(col("doc_id"))

  /** Winnowed-fingerprint near-dup pairing: candidates from shared
    * winnowed fingerprints (1/w the index volume of full shingles, no
    * signatures), exact-Jaccard verified. Same oracle as q21/q22 — a green
    * hash is a recall=1.0 gate for the winnowed candidate scheme at this
    * SF, exercising q67's fingerprints as the candidate index they exist
    * to be. */
  def q69WinnowedPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowedJaccard(Tables.load(s, dir, "documents"), 0.5)
      .orderBy(col("a_id"), col("b_id"))

  /** The INCREMENTAL ingestion-over-time dedup shape under the oracle
    * gate: documents arrive in three pseudo-dates (doc_id mod 3); each
    * date computes MinHash signatures for its own docs only, appends them
    * to a persistent parquet signature store, and band-joins against the
    * accumulated store (IncrementalDedup.processDate — texts are never
    * re-shingled). The union of the daily candidate sets is then
    * exact-Jaccard verified, so the oracle (the q21 exact all-pairs SQL)
    * gates recall = 1.0 for the whole incremental pipeline, not just one
    * batch. Store writes happen inside the query call — bench timings
    * include them (honest cost of the incremental contract). */
  def q91IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val store = s"/tmp/graft_q91_${ProcessHandle.current().pid()}_" +
      s"${Integer.toHexString(dir.hashCode)}/sigstore"
    Warehouse.sweepTmpOrphans("graft_q91_") // crashed foreign runs
    // clean slate per (process, sf dir): a stale store from an earlier run
    // would pollute the candidate set
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    val docs = Tables.load(s, dir, "documents")
    val daily = (0 until 3).map { d =>
      graft.operators.IncrementalDedup.processDate(s,
        docs.filter(pmod(col("doc_id"), lit(3L)) === d), store, s"d$d",
        // loose estimation threshold: keep every banded candidate that
        // could be a true 0.5-pair; exact verification does the filtering
        threshold = 0.2)
        // EAGERLY materialize this day's pairs before the next append —
        // a lazy plan over the store path re-lists/re-reads at action
        // time and does NOT see the store as it was at this step (the
        // spec's incremental==batch invariant collects per day for the
        // same reason)
        .localCheckpoint()
    }
    Dedup.verifyPairs(docs,
        daily.reduce(_ unionAll _).select(col("a_id"), col("b_id")).distinct(),
        0.5)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** q91's incremental pipeline through the BUCKETED signature store — the
    * zero-exchange production shape (IncrementalDedup.appendBandsBucketed /
    * newPairsBucketed): band rows are persisted bucketed on (band, bh), so
    * each day's candidate join reads both sides bucket-aligned and plans
    * with no Exchange on the store (pinned in IncrementalDedupSpec). Same
    * three pseudo-dates, same exact-Jaccard verification, same oracle as
    * q91/q21 — a green hash gates recall = 1.0 for the bucketed variant a
    * 100 TB deployment would actually run. */
  def q92IncrementalDedupBucketed(s: SparkSession, dir: String): DataFrame = {
    val tbl = s"graft_q92_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    // clean slate: the in-memory catalog dies with its process but the
    // managed warehouse dir persists — drop the current name AND sweep
    // graft_q92_p* ORPHANS (dead-pid names only, so a concurrent live
    // run's store is never deleted mid-query; see
    // [[Warehouse.sweepOrphans]])
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    Warehouse.sweepOrphans(s, "graft_q92_p")
    val docs = Tables.load(s, dir, "documents")
    val daily = (0 until 3).map { d =>
      graft.operators.IncrementalDedup.appendBandsBucketed(
        docs.filter(pmod(col("doc_id"), lit(3L)) === d), tbl, s"d$d")
      graft.operators.IncrementalDedup
        // loose estimation threshold, as in q91: exact verification filters
        .newPairsBucketed(s, tbl, s"d$d", threshold = 0.2)
        // eager materialization before the next append (q91's note: a lazy
        // plan over the store would see later dates at action time)
        .localCheckpoint()
    }
    s.sql(s"DROP TABLE IF EXISTS $tbl") // checkpoints hold the data now
    Dedup.verifyPairs(docs,
        daily.reduce(_ unionAll _).select(col("a_id"), col("b_id")).distinct(),
        0.5)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** q148: incremental near-dup CLUSTERING through the persisted label
    * store — the fifth incremental family (see
    * [[graft.operators.IncrementalComponents]]): three pseudo-dates ingest
    * doc_id % 3 slices; each date discovers only its new verified pairs,
    * contracts endpoints to current representatives, propagates over the
    * contracted edges, and updates the immutable labels + versioned
    * rep-map. The final report (labels ⋈ tiny repmap, sizes, canonical
    * flags) is gated BIT-EQUAL against q62's from-scratch recursive-
    * closure oracle — the incremental union-find provably equals
    * re-clustering the whole corpus. */
  def q148IncrementalComponents(s: SparkSession, dir: String): DataFrame =
    componentsCycle(s, dir, "q148", compactAfterD1 = false)

  /** Shared q148/q149 driver. The /tmp store base carries a per-invocation
    * NONCE next to pid+dir so two concurrent invocations in one JVM (bench
    * reps, ScaleProbe vs MemProbe) never collide on the same store; the
    * store delete sits in a `finally` so an exception inside processDate
    * doesn't leak the directory; and the intermediate label checkpoint is
    * explicitly freed once the (doc-count-sized) report is materialized —
    * repeated bench reps no longer accumulate executor storage. */
  private def componentsCycle(s: SparkSession, dir: String, tag: String,
      compactAfterD1: Boolean): DataFrame = {
    val base = s"/tmp/graft_${tag}_${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode) + "_" +
      java.lang.Long.toHexString(System.nanoTime())
    Warehouse.sweepTmpOrphans(s"graft_${tag}_") // crashed foreign runs
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    val lab = try {
      val docs = Tables.load(s, dir, "documents")
      def ingest(d: Int): Unit =
        graft.operators.IncrementalComponents.processDate(s,
          docs.filter(pmod(col("doc_id"), lit(3L)) === d), docs,
          s"$base/sigs", s"$base/labels", s"$base/repmap", s"d$d")
      graft.Phases.timed("build") { ingest(0); ingest(1) }
      if (compactAfterD1) graft.Phases.timed("maintain") {
        graft.operators.IncrementalComponents
          .compactLabels(s, s"$base/labels", "d1")
        graft.operators.IncrementalComponents
          .pruneRepmapVersions(s, s"$base/repmap")
      }
      graft.Phases.timed("build") { ingest(2) }
      // the fold-cycle variant labels its serve distinctly: a serve
      // regression after the label compaction must surface as its own
      // phases row, not hide inside the shared lifecycle headline
      graft.Phases.timed(if (compactAfterD1) "serve_postfold" else "serve") {
        graft.operators.IncrementalComponents
          .currentLabels(s, s"$base/labels", s"$base/repmap")
          .localCheckpoint()
      }
    } finally fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val siz = lab.groupBy(col("component")).agg(count(lit(1)).as("csize"))
    val report = graft.Phases.timed(
        if (compactAfterD1) "serve_postfold" else "serve") {
      lab.join(siz, Seq("component"))
        .select(col("id").as("doc_id"), col("component"),
          col("csize").cast("bigint").as("component_size"),
          (col("id") === col("component")).as("is_canonical"))
        .orderBy(col("doc_id"))
        .localCheckpoint() // eager: lab can be freed before the caller reads
    }
    graft.operators.Components.freeLocalCheckpoint(lab)
    report
  }

  /** q149: q148's incremental clustering cycle with RETENTION MAINTENANCE
    * in the middle — after d1, the d0+d1 label partitions fold into one
    * consolidated `c_d1` partition (the q135 compaction contract applied
    * to the path store) and superseded rep-map versions are pruned; d2
    * then ingests against the compacted store. Same oracle as q148/q62 —
    * a green hash proves maintenance changed the layout, not one label. */
  def q149ComponentsCompacted(s: SparkSession, dir: String): DataFrame =
    componentsCycle(s, dir, "q149", compactAfterD1 = true)

  /** Banded hyperplane-LSH embedding near-dup at threshold 0.9 — the
    * SUB-QUADRATIC scale path next to q53's blocked exact join (which is
    * the right plan only for low thresholds where no banding is
    * simultaneously high-recall and sub-quadratic). The raw embeddings
    * have no high-cosine pairs (max ≈ 0.6 at every SF — a 0.9 gate over
    * them would be vacuously green on zero rows), so the query first
    * plants deterministic near-duplicates: every vec_id % 10 == 0 vector
    * is re-scaled per-coordinate by 1 ± ≤3% (cosine ≈ 0.9996 to its
    * source) and float-rounded so the oracle replays the bytes exactly.
    * Candidates come from shared sign-bit band patterns over
    * deterministic hyperplanes; exact cosine verifies, so output ⊆ the
    * exact all-pairs join over the same augmented table and a green hash
    * IS a recall = 1.0 gate on real near-dup pairs. */
  def q93NearDupBanded(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupBanded(augmentedEmbeddings(s, dir), 0.9)
      .orderBy(col("a_id"), col("b_id"))

  /** The embeddings table plus deterministic planted near-duplicates
    * (q93/q95's gate substrate): every vec_id % 10 == 0 vector re-scaled
    * per-coordinate by 1 ± ≤3% under id + 1000000, float-rounded so the
    * oracle replays the bytes exactly. */
  private def augmentedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dup = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") *
            (lit(1.0) + lit(0.01) * (i % 7 - 3).cast("double")))
            .cast("float")).as("embedding"))
    base.unionAll(dup)
  }

  /** SemDeDup-shaped SEMANTIC dedup report (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): embedding near-dup PAIRS (the banded sub-quadratic
    * path, exact-cosine verified) → transitive closure via distributed
    * label propagation → one row per clustered vector with its component,
    * size, and the keep/drop flag (canonical = min id). The full pipeline
    * a 100 TB corpus runs to drop semantically redundant documents: every
    * stage is the oracle-gated scale shape (q93's candidates, q62's
    * components). Oracle = exact all-pairs cosine over the same augmented
    * table + a recursive-CTE closure, so a green hash gates the whole
    * composition end to end. */
  def q95SemanticDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Components.dedupClusters(
        Similarity.cosineNearDupBanded(augmentedEmbeddings(s, dir), 0.9)
          .select(col("a_id"), col("b_id")))
      .select(col("id").as("vec_id"), col("component"),
        col("component_size"), col("is_canonical"))
      .orderBy(col("vec_id"))

  /** q174: TWO-LEVEL banded LSH near-dup with FORCED engagement — q93's
    * pipeline through the hierarchical candidate scheme ([[graft.operators
    * .Similarity.twoLevelEngaged]], the escape hatch past the r = 16
    * clamp), exercised at fixture scale where auto-engagement would not
    * fire (the law engages at N ≥ 2^21; local corpora must serve
    * single-level — spec-pinned). Candidates must collide in some
    * level-1 band AND some band of a second independent signature; exact
    * cosine then verifies, so the oracle is the same exact all-pairs gate
    * as q93's — a green hash is a recall = 1.0 gate for the TWO-LEVEL
    * scheme on the planted near-dups, proving the second level's
    * 2^r/b-fold candidate-mass cut loses no true pair. */
  def q174NearDupTwoLevel(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupBanded(augmentedEmbeddings(s, dir), 0.9,
        twoLevel = Some(true))
      .orderBy(col("a_id"), col("b_id"))

  /** q178: the INCREMENTAL SEMANTIC near-dup store
    * ([[graft.operators.IncrementalSemantic]]) — the q91/q120/q133
    * incremental-store contract applied to the embedding near-dup
    * family: the banding model (width law at the horizon corpus size)
    * is frozen at init; each of three ingestion dates hashes ITS OWN
    * vectors once (band rows bucketed on (band, bh), vectors+norms
    * bucketed on id) and reports the exact-cosine pairs INVOLVING that
    * date from the accumulated store — old vectors are never re-hashed,
    * the daily candidate join is exchange-free on both sides, and
    * verification reads the store's own vector table, never the corpus.
    * The union of the three per-date reports is gated against the EXACT
    * all-pairs oracle over the augmented table (q93's gate): a green
    * hash proves incremental == batch == exact — recall 1.0 for the
    * store-served path, with every pair surfacing exactly once (when
    * its later endpoint arrives). */
  def q178IncrementalSemantic(s: SparkSession, dir: String): DataFrame = {
    val base = s"graft_q178_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq("_cfg", "_bands", "_vecs", "_occ").map(base + _)
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q178_p")
    val aug = augmentedEmbeddings(s, dir)
    def slice(d: Int) = aug.filter(pmod(col("vec_id"), lit(3L)) === d)
    graft.Phases.timed("init") {
      graft.operators.IncrementalSemantic.initModel(slice(0), base,
        horizonRows = aug.count())
    }
    // phases split (the round-15 verdict ask): init / per-date append /
    // per-date serve — the daily-join cost is no longer buried in one
    // build number
    val out = (0 until 3).map { d =>
      graft.Phases.timed("append") {
        graft.operators.IncrementalSemantic
          .appendDate(slice(d), base, s"d$d")
      }
      // eager per date: a deferred plan would scan LATER dates' band
      // partitions too and double-report cross-date pairs
      graft.Phases.timed("serve") {
        graft.operators.IncrementalSemantic
          .newPairs(s, base, s"d$d").localCheckpoint()
      }
    }.reduce(_ unionAll _)
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("a_id"), col("b_id"))
  }

  /** q179: the incremental semantic store with FORCED TWO-LEVEL
    * engagement — q178's pipeline with the hierarchical candidate scheme
    * frozen at init (the q174 convention applied to the STORE: the
    * engagement law fires at horizon N ≥ 2^21, far above fixture scale,
    * so the test forces it). The frozen config persists BOTH signatures'
    * band rows as b² composite-key rows bucketed on the four key
    * columns; each date's report joins the accumulated composite store
    * exchange-free and verifies with exact cosine from the vector table.
    * Gated against the same EXACT all-pairs oracle as q178: a green hash
    * proves incremental == two-level batch == exact (recall 1.0 — the
    * 2^r/b candidate-mass cut loses no true pair even date-split), with
    * every pair surfacing exactly once. */
  def q179IncrementalSemanticTwoLevel(s: SparkSession, dir: String)
      : DataFrame = {
    val base = s"graft_q179_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq("_cfg", "_bands", "_vecs", "_occ").map(base + _)
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q179_p")
    val aug = augmentedEmbeddings(s, dir)
    def slice(d: Int) = aug.filter(pmod(col("vec_id"), lit(3L)) === d)
    graft.Phases.timed("init") {
      graft.operators.IncrementalSemantic.initModel(slice(0), base,
        horizonRows = aug.count(), twoLevel = Some(true))
    }
    val out = (0 until 3).map { d =>
      graft.Phases.timed("append") {
        graft.operators.IncrementalSemantic
          .appendDate(slice(d), base, s"d$d")
      }
      // eager per date: a deferred plan would scan LATER dates' band
      // partitions too and double-report cross-date pairs
      graft.Phases.timed("serve") {
        graft.operators.IncrementalSemantic
          .newPairs(s, base, s"d$d").localCheckpoint()
      }
    }.reduce(_ unionAll _)
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("a_id"), col("b_id"))
  }

  /** q180: BANDING-MODEL DRIFT AUDIT for the incremental semantic store
    * ([[graft.operators.IncrementalSemantic.bandDriftPsi]]) — the q141
    * detect lens applied to the frozen banding config: per ingestion
    * date, the PSI of its (band, bh) occupancy distribution against the
    * init date's under the store's frozen hyperplanes (horizonRows is a
    * capacity guess; occupancy drift is the signal that the corpus
    * outgrew it and the candidate mass is re-inflating — the re-init
    * trigger, with [[graft.operators.IncrementalSemantic.rebandStore]]
    * as the act). The store freezes r = 10 from an explicit 1000-row
    * horizon (SF-independent, so the oracle embeds the exact plane
    * literals), 32 planes, 3 bands; the oracle replays hashing,
    * smoothing, and the decimal PSI arithmetic bit-for-bit. d0 vs d0 is
    * identically zero by construction. */
  def q180SemanticBandDrift(s: SparkSession, dir: String): DataFrame = {
    val base = s"graft_q180_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq("_cfg", "_bands", "_vecs", "_occ").map(base + _)
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q180_p")
    val emb = Tables.load(s, dir, "embeddings")
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    graft.Phases.timed("build") {
      graft.operators.IncrementalSemantic.initModel(slice(0), base,
        horizonRows = 1000L, nPlanes = 32)
      (0 until 3).foreach(d =>
        graft.operators.IncrementalSemantic.appendDate(slice(d), base, s"d$d"))
    }
    val out = graft.Phases.timed("audit") {
      graft.operators.IncrementalSemantic.bandDriftPsi(s, base, "d0")
        .localCheckpoint()
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("ds"))
  }

  /** Curated multimodal corpus for the ORCHESTRATED day pipeline (q181):
    * documents joined with their embeddings on id (one row per doc:
    * text + vector — the shape one ingestion drop actually has), plus
    * planted clones — every 10th id duplicated at id + 1,000,000 with
    * the SAME text and a per-component perturbed embedding (the q93
    * recipe) — so BOTH near-dup families have guaranteed pairs to
    * surface and the oracle replays the planting token for token. */
  private def curatedCorpus(s: SparkSession, dir: String): DataFrame = {
    val joined = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .join(Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
      .select(col("doc_id").as("id"), col("text"), col("embedding"))
    joined.unionAll(joined.filter(col("id") % 10 === 0)
      .select((col("id") + lit(1000000L)).as("id"), col("text"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") *
            (lit(1.0) + lit(0.01) * (i % 7 - 3).cast("double")))
            .cast("float")).as("embedding")))
  }

  /** q181: the LEDGER-DRIVEN CURATION ORCHESTRATOR
    * ([[graft.operators.CurateJob]]) — the reference's marker-ledger
    * protocol generalized over the incremental store families, run end
    * to end: three per-date input drops are staged as `{date}.parquet`,
    * and ONE orchestrated job lists them, anti-joins the done-marker
    * ledger, and per missing date appends to THREE registered stores
    * (MinHash band signatures, semantic bands+vectors+occupancy, BM25
    * postings tf + norms), writes the day's pair reports (each AS-OF its
    * own date), and commits the date's marker LAST. Output = the union
    * of the per-date day reports, tagged by family: the MinHash
    * candidates exact-Jaccard verified at 0.5 (the q92 gate) plus the
    * semantic store's exact-cosine pairs at 0.9 (the q178 gate), both
    * over the curated corpus. The oracle replays the corpus construction
    * (join + clone planting) and BOTH exact all-pairs sets — a green
    * hash gates recall = 1.0 for every pair-surfacing family the
    * orchestrator drove, proving the one-entry-point pipeline loses
    * nothing over the hand-sequenced family calls. Protocol semantics
    * (no-op re-run, marker-delete reprocess, mid-date crash resume) are
    * spec-pinned in CurateJobSpec. */
  def q181CurateOrchestrated(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val hx = Integer.toHexString(dir.hashCode)
    val base = s"graft_q181_p${pid}_$hx"
    val tmp = s"/tmp/graft_q181_${pid}_$hx"
    val tbls = Seq("_mh", "_post", "_post_dl", "_sem_cfg", "_sem_bands",
      "_sem_vecs", "_sem_occ").map(base + _)
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q181_p")
    Warehouse.sweepTmpOrphans("graft_q181_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val corpus = curatedCorpus(s, dir)
    graft.Phases.timed("stage") {
      (0 until 3).foreach(d =>
        corpus.filter(pmod(col("id"), lit(3L)) === d)
          .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
      // one-time store init (the width law needs the horizon size; the
      // orchestrator drives per-date APPENDS, not model decisions)
      graft.operators.IncrementalSemantic.initModel(
        corpus.select(col("id").as("vec_id"), col("embedding")),
        s"${base}_sem", horizonRows = corpus.count())
    }
    val families = Seq(
      graft.operators.CurateFamily("minhash",
        append = (slice, d) => graft.operators.IncrementalDedup
          .appendBandsBucketed(
            slice.select(col("id").as("doc_id"), col("text")),
            s"${base}_mh", d),
        drop = (sp, d) => graft.operators.IncrementalStore
          .dropDate(sp, Seq(TableLoc(s"${base}_mh")), d),
        // loose estimation threshold (q91's note): exact verification
        // below does the filtering; as-of the date for reprocess parity
        report = Some((sp, d) => graft.operators.IncrementalDedup
          .newPairsBucketed(sp, s"${base}_mh", d, threshold = 0.2,
            upTo = Some(d)))),
      graft.operators.CurateFamily("semantic",
        append = (slice, d) => graft.operators.IncrementalSemantic
          .appendDate(slice.select(col("id").as("vec_id"), col("embedding")),
            s"${base}_sem", d),
        drop = (sp, d) => graft.operators.IncrementalSemantic
          .dropDate(sp, s"${base}_sem", d),
        report = Some((sp, d) => graft.operators.IncrementalSemantic
          .newPairs(sp, s"${base}_sem", d, 0.9, upTo = Some(d)))),
      graft.operators.CurateFamily("postings",
        append = (slice, d) => {
          graft.operators.IncrementalPostings.appendCountsBucketed(
            slice.select(col("id").as("doc_id"), col("text")),
            s"${base}_post", d)
          graft.operators.IncrementalPostings.appendNorms(
            slice.select(col("id").as("doc_id"), col("text")),
            s"${base}_post", d)
        },
        drop = (sp, d) => graft.operators.IncrementalStore
          .dropDate(sp,
            Seq(s"${base}_post", s"${base}_post_dl").map(TableLoc), d)))
    val summary = graft.Phases.timed("orchestrate") {
      new graft.operators.CurateJob(s, graft.operators.CurateConfig(
        "curate", s"$tmp/in", s"$tmp/markers", s"$tmp/reports", families))
        .run()
    }
    require(summary.processedDates == Seq("d0", "d1", "d2"),
      s"orchestrator must process exactly the three staged dates: $summary")
    val out = graft.Phases.timed("report") {
      val mh = graft.operators.Dedup.verifyPairs(
        corpus.select(col("id").as("doc_id"), col("text")),
        s.read.parquet(s"$tmp/reports/minhash")
          .select(col("a_id"), col("b_id")).distinct(), 0.5)
      val sem = s.read.parquet(s"$tmp/reports/semantic")
        .select(col("a_id"), col("b_id"), col("cosine"))
      mh.select(lit("minhash").as("family"), col("a_id"), col("b_id"),
          col("jaccard").as("score"))
        .unionAll(sem.select(lit("semantic").as("family"), col("a_id"),
          col("b_id"), col("cosine").as("score")))
        .localCheckpoint()
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    out.orderBy(col("family"), col("a_id"), col("b_id"))
  }

  /** q182: the LEDGER-DRIVEN TAKEDOWN ORCHESTRATOR
    * ([[graft.operators.TakedownJob]]) — q181's protocol in the
    * destructive direction, run end to end: two takedown request
    * batches are staged as `{date}.parquet` id lists with OVERLAPPING
    * ids (r0 = doc_id % 7 = 3, r1 = doc_id % 5 = 2 — every id ≡ 17 mod
    * 35 appears in both), and ONE orchestrated job lists them,
    * anti-joins the done-marker ledger, and per missing batch deletes
    * the surviving ids from TWO registered families under the batch's
    * deterministic generation: the BM25 postings+norms stores (an
    * anti-join family) and the NB language-model store (a SUBTRACT
    * family — additive counts, where a re-applied id would corrupt the
    * model). Output = the post-takedown serves tagged by family: the
    * stores' BM25 top-10 plus the unlearned model's predictions over
    * the survivors. The oracle replays both pipelines from scratch over
    * the corpus MINUS the union of both request lists — a green hash
    * proves the orchestrator applied every requested id to every family
    * EXACTLY once (the cross-date overlap would double-subtract the
    * model without the applied-batch dedupe; a lost id would leave
    * postings rows behind). Protocol semantics (no-op re-run, mid-batch
    * crash resume, marker-delete reprocess no-op, empty-batch skip) are
    * spec-pinned in TakedownJobSpec. */
  def q182TakedownOrchestrated(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val hx = Integer.toHexString(dir.hashCode)
    val base = s"graft_q182_p${pid}_$hx"
    val tmp = s"/tmp/graft_q182_${pid}_$hx"
    val tbls = Seq(s"${base}_post", s"${base}_post_dl")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q182_p")
    Warehouse.sweepTmpOrphans("graft_q182_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val docs = Tables.load(s, dir, "documents")
    val lmStore = s"$tmp/lm"
    graft.Phases.timed("build") {
      // the postings tables and the language-model path store are
      // independent legs — build them concurrently (the FamilyPar
      // overlap); each leg's dates stay sequential
      graft.operators.FamilyPar.foreach(Seq(
        () => (0 until 3).foreach { d =>
          val slice = docs.filter(pmod(col("doc_id"), lit(3L)) === d)
          graft.operators.IncrementalPostings
            .appendCountsBucketed(slice, s"${base}_post", s"d$d")
          graft.operators.IncrementalPostings
            .appendNorms(slice, s"${base}_post", s"d$d")
        },
        () => (0 until 3).foreach { d =>
          graft.operators.IncrementalLangModel.appendCounts(
            docs.filter(pmod(col("doc_id"), lit(3L)) === d), lmStore, s"d$d")
        }))(_())
    }
    graft.Phases.timed("stage") {
      docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id")
        .write.mode("overwrite").parquet(s"$tmp/req/r0.parquet")
      docs.filter(pmod(col("doc_id"), lit(5L)) === 2).select("doc_id")
        .write.mode("overwrite").parquet(s"$tmp/req/r1.parquet")
    }
    val families = Seq(
      graft.operators.TakedownFamily("postings",
        (ids, gen) => graft.operators.IncrementalPostings.deleteDocs(
          s, s"${base}_post", ids, gen)),
      // the subtract family unlearns from the documents themselves (the
      // takedown has the document in hand — the id→doc semi-join is the
      // family adapter's job, request-list-sized so it broadcasts)
      graft.operators.TakedownFamily("langmodel",
        (ids, gen) => graft.operators.IncrementalLangModel.deleteDocs(
          docs.join(ids.select(col("id").as("doc_id")),
            Seq("doc_id"), "left_semi"), lmStore, gen),
        subtractive = true))
    val summary = graft.Phases.timed("takedown") {
      new graft.operators.TakedownJob(s, graft.operators.TakedownConfig(
        "td", s"$tmp/req", s"$tmp/markers", families)).run()
    }
    require(summary.processedDates == Seq("r0", "r1"),
      s"orchestrator must process exactly the two staged batches: $summary")
    val out = graft.Phases.timed("serve") {
      val bm = graft.operators.IncrementalPostings
        .bm25Bucketed(s, s"${base}_post", Seq("data", "query"))
        .select(lit("postings").as("family"), col("doc_id"),
          col("score"), col("n_hit_terms").cast("string").as("label"))
      val kept = docs.filter(!(pmod(col("doc_id"), lit(7L)) === 3 ||
        pmod(col("doc_id"), lit(5L)) === 2))
      val (model, priors) =
        graft.operators.IncrementalLangModel.model(s, lmStore)
      val nb = nbArgmax(kept, nbScoresAgainst(kept, model, priors,
          priors.agg(sum(col("ndl")).as("nd"))))
        .select(lit("langmodel").as("family"), col("doc_id"),
          col("score"), col("pred_lang").as("label"))
      bm.unionAll(nb).localCheckpoint()
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    out.orderBy(col("family"), col("doc_id"))
  }

  /** q183: the CURATE→TAKEDOWN→RE-CRAWL CYCLE — the interaction the two
    * orchestrators ([[graft.operators.CurateJob]],
    * [[graft.operators.TakedownJob]]) exist to get right, run end to
    * end: ingestion dates d0+d1 are curated into the BM25 store, a
    * takedown batch (doc_id % 7 = 3) is applied, and THEN a third
    * ingestion date arrives that RE-DELIVERS some of the taken-down
    * documents (d2 contains its own % 7 = 3 ids — the re-crawl case a
    * 100 TB pipeline hits constantly). Curation runs with
    * [[graft.operators.TakedownJob.appliedIds]] wired as its
    * suppression feed, so d2's re-delivered ids are anti-joined away
    * BEFORE any append. The oracle is q74's BM25 over the corpus minus
    * ALL % 7 = 3 docs — green proves "forgotten stays forgotten": the
    * takedown removed the indexed ids AND the suppression kept the
    * re-crawled ones out, composing to exactly corpus-minus-requested.
    * Without the feed, d2 would silently re-index its taken-down docs
    * and the pipeline would undo its own legal erasure. */
  def q183CurateTakedownCycle(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val hx = Integer.toHexString(dir.hashCode)
    val base = s"graft_q183_p${pid}_$hx"
    val tmp = s"/tmp/graft_q183_${pid}_$hx"
    val tbls = Seq(s"${base}_post", s"${base}_post_dl")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q183_p")
    Warehouse.sweepTmpOrphans("graft_q183_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val docs = Tables.load(s, dir, "documents")
    val curateFams = Seq(graft.operators.CurateFamily("postings",
      append = (slice, d) => {
        graft.operators.IncrementalPostings
          .appendCountsBucketed(slice, s"${base}_post", d)
        graft.operators.IncrementalPostings
          .appendNorms(slice, s"${base}_post", d)
      },
      drop = (sp, d) => graft.operators.IncrementalStore.dropDate(sp,
        Seq(s"${base}_post", s"${base}_post_dl").map(TableLoc), d)))
    val curateCfg = graft.operators.CurateConfig("cur", s"$tmp/in",
      s"$tmp/curmarkers", s"$tmp/reports", curateFams,
      suppressIds = sp => graft.operators.TakedownJob.appliedIds(
        sp, s"$tmp/req", s"$tmp/tdmarkers"),
      suppressCol = "doc_id")
    val tdCfg = graft.operators.TakedownConfig("td", s"$tmp/req",
      s"$tmp/tdmarkers", Seq(graft.operators.TakedownFamily("postings",
        (ids, gen) => graft.operators.IncrementalPostings.deleteDocs(
          s, s"${base}_post", ids, gen))))
    graft.Phases.timed("ingest1") { // d0 + d1 land and index fully
      (0 until 2).foreach(d => docs.filter(pmod(col("doc_id"), lit(3L)) === d)
        .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
      val s1 = new graft.operators.CurateJob(s, curateCfg).run()
      require(s1.processedDates == Seq("d0", "d1"), s1.toString)
    }
    graft.Phases.timed("takedown") { // the % 7 = 3 docs are erased
      docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id")
        .write.mode("overwrite").parquet(s"$tmp/req/r0.parquet")
      val st = new graft.operators.TakedownJob(s, tdCfg).run()
      require(st.processedDates == Seq("r0"), st.toString)
    }
    graft.Phases.timed("ingest2") { // d2 re-delivers its % 7 = 3 ids
      docs.filter(pmod(col("doc_id"), lit(3L)) === 2)
        .write.mode("overwrite").parquet(s"$tmp/in/d2.parquet")
      val s2 = new graft.operators.CurateJob(s, curateCfg).run()
      require(s2.processedDates == Seq("d2"), s2.toString)
    }
    val out = graft.Phases.timed("serve") {
      graft.operators.IncrementalPostings
        .bm25Bucketed(s, s"${base}_post", Seq("data", "query"))
        .localCheckpoint() // eager: tables dropped before the caller's action
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    out.orderBy(col("score").desc, col("doc_id"))
  }

  /** q184: the MAINTENANCE-WINDOW ORCHESTRATOR
    * ([[graft.operators.MaintainJob]]) — the third leg of the
    * operational triad (q181 ingests, q182 erases, this consolidates),
    * run end to end over TWO families: the bucketed postings store
    * (tf compacted with the q135 additive merge + norms compacted) and
    * the SQ8 vector store (codes compacted, the q156 pure re-bin). Both
    * build d0+d1, ONE `run("d1")` window folds every pre-horizon
    * partition in all three tables and commits the window marker LAST,
    * d2 appends against the compacted stores, and both families serve.
    * Output = the post-maintenance serves, family-tagged and
    * shape-normalized: the postings top-3-per-term report and the SQ8
    * top-3 cosine search. The oracle replays both pipelines one-shot
    * over the full corpus (q118's postings SQL + q152's SQ8 chain) — a
    * green hash proves the orchestrated window changed LAYOUT, not one
    * row of any reader's view, across every registered family at once.
    * Window semantics (marker-present skip, mid-window crash resume,
    * audit partition idempotence) are spec-pinned in MaintainJobSpec. */
  def q184MaintainOrchestrated(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val hx = Integer.toHexString(dir.hashCode)
    val base = s"graft_q184_p${pid}_$hx"
    val tmp = s"/tmp/graft_q184_${pid}_$hx"
    val tbls = Seq(s"${base}_post", s"${base}_post_dl",
      s"${base}v_grid", s"${base}v_codes")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q184_p")
    Warehouse.sweepTmpOrphans("graft_q184_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val docs = Tables.load(s, dir, "documents")
    val emb = Tables.load(s, dir, "embeddings")
    def ingestPost(d: Int): Unit = {
      val slice = docs.filter(pmod(col("doc_id"), lit(3L)) === d)
      graft.operators.IncrementalPostings
        .appendCountsBucketed(slice, s"${base}_post", s"d$d")
      graft.operators.IncrementalPostings
        .appendNorms(slice, s"${base}_post", s"d$d")
    }
    def ingestSq(d: Int): Unit = graft.operators.IncrementalSQ.appendDate(
      emb.filter(pmod(col("vec_id"), lit(3L)) === d), s"${base}v", s"d$d")
    graft.Phases.timed("build") {
      graft.operators.IncrementalSQ.initGrid(
        emb.filter(pmod(col("vec_id"), lit(3L)) === 0), s"${base}v")
      (0 until 2).foreach { d => ingestPost(d); ingestSq(d) }
    }
    val families = Seq(
      graft.operators.MaintainFamily("postings",
        maintain = (sp, w) => {
          graft.operators.StoreMaintenance.compact(sp,
            TableLoc(s"${base}_post"), w,
            merge = _.groupBy("term", "doc_id").agg(sum(col("tf")).as("tf")))
          graft.operators.IncrementalPostings
            .compactNorms(sp, s"${base}_post", w)
        },
        // a model-bounded health row: term/doc cardinality post-fold
        audit = Some((sp, _) => sp.table(s"${base}_post")
          .agg(countDistinct(col("term")).as("n_terms"),
            countDistinct(col("doc_id")).as("n_docs")))),
      graft.operators.MaintainFamily("sq8",
        maintain = (sp, w) => graft.operators.StoreMaintenance
          .compact(sp, TableLoc(s"${base}v_codes"), w)))
    val summary = graft.Phases.timed("maintain") {
      new graft.operators.MaintainJob(s, graft.operators.MaintainConfig(
        "maint", s"$tmp/markers", s"$tmp/audits", families)).run("d1")
    }
    require(!summary.skipped && summary.maintained == Seq("postings", "sq8"),
      s"the window must maintain both families: $summary")
    graft.Phases.timed("build") { ingestPost(2); ingestSq(2) }
    val out = graft.Phases.timed("serve_postfold") {
      val post = graft.operators.IncrementalPostings
        .reportBucketed(s, s"${base}_post")
        .select(lit("postings").as("family"), col("term").as("key"),
          col("rnk").cast("long").as("rank"), col("doc_id").as("id"),
          col("tf").cast("double").as("v1"),
          col("df").cast("double").as("v2"),
          col("cf").cast("double").as("v3"))
      val sq = graft.operators.IncrementalSQ
        .search(s, s"${base}v", emb.filter(col("vec_id") < 10))
        .select(lit("sq8").as("family"), col("qid").cast("string").as("key"),
          col("rank").cast("long").as("rank"), col("cid").as("id"),
          col("cosine").as("v1"), lit(-1.0).as("v2"), lit(-1.0).as("v3"))
      post.unionAll(sq).localCheckpoint()
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    out.orderBy(col("family"), col("key"), col("rank"))
  }

  /** q185: STORE INVENTORY ([[graft.operators.StoreInventory]]) — the
    * observability surface over the orchestrated families: one row per
    * (family, ingestion date) with its row count, read count-only
    * through the consistent-scan resolution (the scan reads no data
    * columns — footer row counts serve it). The lexical store's two
    * tables play two families (term-bucketed tf, doc-bucketed norms)
    * over three ingestion dates; the oracle replays both per-date
    * cardinalities from the corpus (distinct (term, doc_id) pairs per
    * slice; docs with ≥ 1 token per slice) — a green hash proves the
    * inventory reports exactly what the appends landed, date by date.
    * The lagging-family detector (`StoreInventory.missing`) is asserted
    * empty on this healthy store here and exercised on degraded ones
    * (dropped date, folded history, gen label) in StoreInventorySpec. */
  def q185StoreInventory(s: SparkSession, dir: String): DataFrame = {
    val tbl = s"graft_q185_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq(tbl, s"${tbl}_dl")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q185_p")
    val docs = Tables.load(s, dir, "documents")
    graft.Phases.timed("build") {
      (0 until 3).foreach { d =>
        val slice = docs.filter(pmod(col("doc_id"), lit(3L)) === d)
        graft.operators.IncrementalPostings
          .appendCountsBucketed(slice, tbl, s"d$d")
        graft.operators.IncrementalPostings.appendNorms(slice, tbl, s"d$d")
      }
    }
    val fams = Seq(StoreInventory.Entry("tf", TableLoc(tbl)),
      StoreInventory.Entry("norms", TableLoc(s"${tbl}_dl")))
    val out = graft.Phases.timed("serve") {
      val lag = StoreInventory.missing(s, fams)
      require(lag.isEmpty, s"healthy store must not lag: ${lag.collect()
        .mkString(",")}")
      StoreInventory.dates(s, fams).localCheckpoint()
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("family"), col("ds"))
  }

  /** q186: the FULL OPERATIONAL TRIAD composed — one store lifecycle
    * driven end to end by all three orchestrators, in the order a real
    * deployment interleaves them: [[graft.operators.CurateJob]] ingests
    * d0+d1 (suppression feed wired), [[graft.operators.MaintainJob]]
    * folds a retention window at d1 (tf additive merge + norms),
    * [[graft.operators.TakedownJob]] erases the % 7 = 3 docs (its gen
    * rewrite folds the window's c_d1 label — the
    * protocols COMPOSE on the same fold machinery), and CurateJob
    * ingests a d2 that re-delivers taken-down ids, suppressed by the
    * feed. The oracle is q74's BM25 over corpus-minus-requested (q160's
    * SQL): green = fold + erasure + suppression + continued ingestion
    * interleave to exactly the right store. q183 pinned
    * curate→takedown; this adds maintenance INSIDE the cycle, the
    * remaining pairwise interaction (fold labels surviving a takedown
    * rewrite; appends landing on a folded+rewritten store). */
  def q186OperationalTriad(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val hx = Integer.toHexString(dir.hashCode)
    val base = s"graft_q186_p${pid}_$hx"
    val tmp = s"/tmp/graft_q186_${pid}_$hx"
    val tbls = Seq(s"${base}_post", s"${base}_post_dl")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q186_p")
    Warehouse.sweepTmpOrphans("graft_q186_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val docs = Tables.load(s, dir, "documents")
    val curateCfg = graft.operators.CurateConfig("cur", s"$tmp/in",
      s"$tmp/curmarkers", s"$tmp/reports",
      Seq(graft.operators.CurateFamily("postings",
        append = (slice, d) => {
          graft.operators.IncrementalPostings
            .appendCountsBucketed(slice, s"${base}_post", d)
          graft.operators.IncrementalPostings
            .appendNorms(slice, s"${base}_post", d)
        },
        drop = (sp, d) => graft.operators.IncrementalStore.dropDate(sp,
          Seq(s"${base}_post", s"${base}_post_dl").map(TableLoc), d),
        foldedThrough = Some(sp => graft.operators.StoreMaintenance
          .foldHorizon(sp,
            Seq(s"${base}_post", s"${base}_post_dl").map(TableLoc))))),
      suppressIds = sp => graft.operators.TakedownJob.appliedIds(
        sp, s"$tmp/req", s"$tmp/tdmarkers"),
      suppressCol = "doc_id")
    graft.Phases.timed("ingest1") {
      (0 until 2).foreach(d => docs.filter(pmod(col("doc_id"), lit(3L)) === d)
        .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
      val s1 = new graft.operators.CurateJob(s, curateCfg).run()
      require(s1.processedDates == Seq("d0", "d1"), s1.toString)
    }
    graft.Phases.timed("maintain") { // retention window at horizon d1
      val sm = new graft.operators.MaintainJob(s,
        graft.operators.MaintainConfig("maint", s"$tmp/mmarkers",
          s"$tmp/audits", Seq(graft.operators.MaintainFamily("postings",
            maintain = (sp, w) => {
              graft.operators.StoreMaintenance.compact(sp,
                TableLoc(s"${base}_post"), w, merge = _.groupBy("term", "doc_id")
                  .agg(sum(col("tf")).as("tf")))
              graft.operators.IncrementalPostings
                .compactNorms(sp, s"${base}_post", w)
            })))).run("d1")
      require(!sm.skipped, sm.toString)
    }
    graft.Phases.timed("takedown") { // the gen rewrite folds c_d1 too
      docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id")
        .write.mode("overwrite").parquet(s"$tmp/req/r0.parquet")
      val st = new graft.operators.TakedownJob(s,
        graft.operators.TakedownConfig("td", s"$tmp/req", s"$tmp/tdmarkers",
          Seq(graft.operators.TakedownFamily("postings", (ids, gen) =>
            graft.operators.IncrementalPostings.deleteDocs(
              s, s"${base}_post", ids, gen))))).run()
      require(st.processedDates == Seq("r0"), st.toString)
    }
    graft.Phases.timed("ingest2") { // d2 re-delivers % 7 = 3 — suppressed
      docs.filter(pmod(col("doc_id"), lit(3L)) === 2)
        .write.mode("overwrite").parquet(s"$tmp/in/d2.parquet")
      val s2 = new graft.operators.CurateJob(s, curateCfg).run()
      require(s2.processedDates == Seq("d2"), s2.toString)
    }
    val out = graft.Phases.timed("serve") {
      graft.operators.IncrementalPostings
        .bm25Bucketed(s, s"${base}_post", Seq("data", "query"))
        .localCheckpoint() // eager: tables dropped before the caller's action
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    out.orderBy(col("score").desc, col("doc_id"))
  }

  /** q187: RETENTION EXPIRY ([[graft.operators.StoreMaintenance
    * .expire]]) — the storage-limit pair to the takedown path: where a
    * takedown removes REQUESTED ids and compaction keeps every row,
    * expiry makes everything at or before a date horizon GONE (a
    * time-based retention policy — "hold nothing older than N days" —
    * is this, run at each horizon). The lexical store builds over three
    * ingestion dates, both tables expire at cutoff d0 (bounded DDL —
    * partition drops, no rewrite), and the BM25 serve must equal a
    * one-shot build over the d1+d2 slices only: n_docs, avgdl, df all
    * re-derive from the surviving dates, proving expiry is a real
    * deletion, not a mask. The fold-interaction contract (a `c_X`
    * label past the cutoff is skipped, never half-dropped; aligned
    * horizons drain everything) is spec-pinned in
    * StoreMaintenanceSpec. */
  def q187RetentionExpiry(s: SparkSession, dir: String): DataFrame = {
    val tbl = s"graft_q187_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq(tbl, s"${tbl}_dl")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q187_p")
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
      tbls.foreach { t =>
        val res = graft.operators.StoreMaintenance.expire(s, TableLoc(t), "d0")
        require(res.dropped == Seq("d0") && res.retained.isEmpty,
          s"expiry must drop exactly d0 from $t: $res")
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

  /** q190: THE OPERATIONAL TRIAD FROM CONFIG ALONE ([[graft.OpsMain]])
    * — q186's lifecycle (curate d0+d1 with the suppression feed →
    * maintenance window at d1 → takedown of the % 7 = 3 docs, whose gen
    * rewrite folds the window's c_d1 label → curate a d2 that
    * re-delivers taken-down ids, suppressed) driven END TO END through
    * the spark-submit CLI surface: every phase is one `OpsMain.run`
    * invocation configured purely by flags, the
    * [[graft.operators.OpsFamilies]] registry wiring the postings
    * family with its `foldedThrough` fence and the feed from
    * `--REQUESTS`/`--TD_MARKERS`. Same oracle as q186 (BM25 over
    * corpus-minus-requested): green proves the CLI wiring loses
    * nothing over the hand-written composition — the operational layer
    * is OPERABLE, not just linkable. CLI refusals and the full
    * three-family flag surface are spec-pinned in OpsMainSpec. */
  def q190OpsTriad(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val hx = Integer.toHexString(dir.hashCode)
    val base = s"graft_q190_p${pid}_$hx"
    val tmp = s"/tmp/graft_q190_${pid}_$hx"
    val tbls = Seq(s"${base}_post", s"${base}_post_dl")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q190_p")
    Warehouse.sweepTmpOrphans("graft_q190_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val docs = Tables.load(s, dir, "documents")
    val curateArgs = Array("--JOB", "curate", "--STORE", base,
      "--FAMILIES", "postings", "--ID_COL", "doc_id",
      "--IN", s"$tmp/in", "--MARKERS", s"$tmp/curmarkers",
      "--REPORTS", s"$tmp/reports",
      "--REQUESTS", s"$tmp/req", "--TD_MARKERS", s"$tmp/tdmarkers")
    graft.Phases.timed("ingest1") {
      (0 until 2).foreach(d => docs.filter(pmod(col("doc_id"), lit(3L)) === d)
        .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
      val r = graft.OpsMain.run(curateArgs, s)
      require(r.contains("\"processed\":[\"d0\",\"d1\"]"), r)
    }
    graft.Phases.timed("maintain") {
      val r = graft.OpsMain.run(Array("--JOB", "maintain",
        "--STORE", base, "--FAMILIES", "postings", "--WINDOW", "d1",
        "--M_MARKERS", s"$tmp/mmarkers", "--AUDITS", s"$tmp/audits"), s)
      require(r.contains("\"skipped\":false"), r)
    }
    graft.Phases.timed("takedown") {
      docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id")
        .write.mode("overwrite").parquet(s"$tmp/req/r0.parquet")
      val r = graft.OpsMain.run(Array("--JOB", "takedown",
        "--STORE", base, "--FAMILIES", "postings",
        "--REQUESTS", s"$tmp/req", "--TD_MARKERS", s"$tmp/tdmarkers"), s)
      require(r.contains("\"processed\":[\"r0\"]"), r)
    }
    graft.Phases.timed("ingest2") {
      docs.filter(pmod(col("doc_id"), lit(3L)) === 2)
        .write.mode("overwrite").parquet(s"$tmp/in/d2.parquet")
      val r = graft.OpsMain.run(curateArgs, s)
      require(r.contains("\"processed\":[\"d2\"]"), r)
    }
    val out = graft.Phases.timed("serve") {
      graft.operators.IncrementalPostings
        .bm25Bucketed(s, s"${base}_post", Seq("data", "query"))
        .localCheckpoint() // eager: tables dropped before the caller's action
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    out.orderBy(col("score").desc, col("doc_id"))
  }

  /** q189: RETENTION INSIDE THE MAINTENANCE WINDOW
    * ([[graft.operators.MaintainFamily.expire]]) — q187 proved
    * `expire` per store; this runs the policy where a
    * deployment actually runs it: ONE marker-committed [[graft
    * .operators.MaintainJob]] window that folds the lexical store at
    * the horizon (tf additive merge + norms) and THEN expires both
    * tables at the same cutoff — the aligned-horizons discipline as
    * orchestrator ordering: the fresh `c_d1` label's content is
    * provably ≤ d1, so the policy drops it whole, exact retention with
    * nothing stranded behind a past-cutoff label. The audit (store
    * inventory) runs after expiry, so "oldest-held ≤ policy" is
    * asserted from what a reader actually sees. Output = the BM25
    * serve over the surviving store; the oracle is a one-shot build
    * over the d2 slice only (doc_id % 3 = 2) — n_docs, avgdl, df all
    * re-derive from the surviving date, proving the windowed fold +
    * expiry composed to a real deletion. The crash window (expiry
    * done, marker lost → idempotent resume) is spec-pinned in
    * MaintainJobSpec. */
  def q189MaintainRetention(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val hx = Integer.toHexString(dir.hashCode)
    val tbl = s"graft_q189_p${pid}_$hx"
    val tmp = s"/tmp/graft_q189_${pid}_$hx"
    val tbls = Seq(tbl, s"${tbl}_dl")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q189_p")
    Warehouse.sweepTmpOrphans("graft_q189_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val docs = Tables.load(s, dir, "documents")
    graft.Phases.timed("build") {
      (0 until 3).foreach { d =>
        val slice = docs.filter(pmod(col("doc_id"), lit(3L)) === d)
        graft.operators.IncrementalPostings
          .appendCountsBucketed(slice, tbl, s"d$d")
        graft.operators.IncrementalPostings.appendNorms(slice, tbl, s"d$d")
      }
    }
    val fam = graft.operators.MaintainFamily("postings",
      maintain = (sp, w) => {
        graft.operators.StoreMaintenance.compact(sp, TableLoc(tbl), w,
          merge = _.groupBy("term", "doc_id").agg(sum(col("tf")).as("tf")))
        graft.operators.IncrementalPostings.compactNorms(sp, tbl, w)
      },
      expire = Some((sp, w) => {
        val a = graft.operators.StoreMaintenance.expire(sp, TableLoc(tbl), w)
        val b = graft.operators.StoreMaintenance.expire(sp,
          TableLoc(s"${tbl}_dl"), w)
        graft.operators.StoreMaintenance.ExpireResult(
          (a.dropped ++ b.dropped).distinct.sorted,
          (a.retained ++ b.retained).distinct.sorted)
      }),
      audit = Some((sp, _) => StoreInventory.dates(sp,
        Seq(StoreInventory.Entry("tf", TableLoc(tbl)),
          StoreInventory.Entry("norms", TableLoc(s"${tbl}_dl"))))))
    val summary = graft.Phases.timed("maintain") {
      new graft.operators.MaintainJob(s, graft.operators.MaintainConfig(
        "maint", s"$tmp/markers", s"$tmp/audits", Seq(fam))).run("d1")
    }
    require(!summary.skipped &&
      summary.expired == Map("postings" -> Seq("c_d1")),
      s"the window must fold then drop exactly the c_d1 label: $summary")
    // oldest-held ≤ policy, from the post-expiry audit itself
    val held = s.read.parquet(s"$tmp/audits/postings")
      .select("ds").distinct().collect().map(_.getString(0)).toSet
    require(held == Set("d2"), s"audit must show only post-cutoff dates: $held")
    val out = graft.Phases.timed("serve") {
      graft.operators.IncrementalPostings
        .bm25Bucketed(s, tbl, Seq("data", "query"))
        .localCheckpoint() // eager: tables dropped before the caller's action
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    out.orderBy(col("score").desc, col("doc_id"))
  }

  /** q188: LEDGER-KEYED INVENTORY THROUGH A GEN REWRITE
    * ([[graft.operators.StoreInventory.missingVsLedger]]) — the
    * observability gap q185 left open: the partition-keyed lagging
    * detector must SKIP any family holding an `r_*` generation label
    * (partitions alone can't say which absent dates predate the fold),
    * so after a takedown rewrite the whole family goes unwatched. The
    * ledger-keyed detector uses [[graft.operators.CurateJob]]'s
    * committed markers as the expected-date set and credits dates that
    * committed before the family's newest completed rewrite — staying
    * sharp exactly where `missing` goes blind. Run end to end: four
    * dated drops curated (suppression feed wired), a takedown
    * (doc_id % 7 = 3) gen-rewrites both lexical tables after d0–d2,
    * d3 is curated against the rewritten store, then d3's partition is
    * dropped from the norms table BY HAND (the out-of-band mutation
    * the detector exists to catch). Output = the full inventory
    * (per-partition row counts through consistentScan, status 'held')
    * unioned with the detector's findings (status 'missing'). The
    * oracle replays every partition's cardinality from the corpus —
    * survivors of the rewrite, the suppressed d3 slice — and the single
    * missing row: green proves the detector names exactly the
    * hand-dropped date and nothing else, THROUGH the gen rewrite.
    * Credit/no-credit windows (crashed rewrite, absent table) are
    * spec-pinned in StoreInventorySpec. */
  def q188LedgerInventory(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val hx = Integer.toHexString(dir.hashCode)
    val base = s"graft_q188_p${pid}_$hx"
    val tmp = s"/tmp/graft_q188_${pid}_$hx"
    val tbls = Seq(s"${base}_post", s"${base}_post_dl")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q188_p")
    Warehouse.sweepTmpOrphans("graft_q188_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val docs = Tables.load(s, dir, "documents")
    val curateCfg = graft.operators.CurateConfig("cur", s"$tmp/in",
      s"$tmp/curmarkers", s"$tmp/reports",
      Seq(graft.operators.CurateFamily("postings",
        append = (slice, d) => {
          graft.operators.IncrementalPostings
            .appendCountsBucketed(slice, s"${base}_post", d)
          graft.operators.IncrementalPostings
            .appendNorms(slice, s"${base}_post", d)
        },
        drop = (sp, d) => graft.operators.IncrementalStore.dropDate(sp,
          Seq(s"${base}_post", s"${base}_post_dl").map(TableLoc), d),
        foldedThrough = Some(sp => graft.operators.StoreMaintenance
          .foldHorizon(sp,
            Seq(s"${base}_post", s"${base}_post_dl").map(TableLoc))))),
      suppressIds = sp => graft.operators.TakedownJob.appliedIds(
        sp, s"$tmp/req", s"$tmp/tdmarkers"),
      suppressCol = "doc_id")
    graft.Phases.timed("ingest1") { // d0–d2 land and index fully
      (0 until 3).foreach(d => docs.filter(pmod(col("doc_id"), lit(4L)) === d)
        .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
      val s1 = new graft.operators.CurateJob(s, curateCfg).run()
      require(s1.processedDates == Seq("d0", "d1", "d2"), s1.toString)
    }
    graft.Phases.timed("takedown") { // gen rewrite folds d0–d2 into r_td_r0
      docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id")
        .write.mode("overwrite").parquet(s"$tmp/req/r0.parquet")
      val st = new graft.operators.TakedownJob(s,
        graft.operators.TakedownConfig("td", s"$tmp/req", s"$tmp/tdmarkers",
          Seq(graft.operators.TakedownFamily("postings", (ids, gen) =>
            graft.operators.IncrementalPostings.deleteDocs(
              s, s"${base}_post", ids, gen))))).run()
      require(st.processedDates == Seq("r0"), st.toString)
    }
    graft.Phases.timed("ingest2") { // d3 lands on the rewritten store
      docs.filter(pmod(col("doc_id"), lit(4L)) === 3)
        .write.mode("overwrite").parquet(s"$tmp/in/d3.parquet")
      val s2 = new graft.operators.CurateJob(s, curateCfg).run()
      require(s2.processedDates == Seq("d3"), s2.toString)
    }
    // the out-of-band mutation the detector exists to catch: d3 vanishes
    // from ONE table with its curate marker still committed
    s.sql(s"ALTER TABLE ${base}_post_dl DROP PARTITION (ds='d3')")
    val fams = Seq(StoreInventory.Entry("tf", TableLoc(s"${base}_post")),
      StoreInventory.Entry("norms", TableLoc(s"${base}_post_dl")))
    val out = graft.Phases.timed("serve") {
      val held = StoreInventory.dates(s, fams)
        .select(col("family"), col("ds"), col("n_rows"),
          lit("held").as("status"))
      val lag = StoreInventory.missingVsLedger(s, fams, s"$tmp/curmarkers")
        .select(col("family"), col("ds"), lit(0L).as("n_rows"),
          lit("missing").as("status"))
      held.unionAll(lag).localCheckpoint()
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    out.orderBy(col("family"), col("ds"), col("status"))
  }

  /** q191: THE VECTOR/ANN FAMILY OPERATED FROM CONFIG ALONE — the r18
    * verdict's top gap closed: the q133 store, q161 tombstone path and
    * q137-style audits existed as gated library protocols but could not
    * be driven from [[graft.OpsMain]] the way q190 drives the text
    * stores. This runs the full triad on the `vectors` registry family
    * with every phase one `OpsMain.run` invocation: curate d0+d1 of the
    * embeddings corpus (INIT-ON-DEMAND at d0 — the frozen quantizer's
    * cell count is declared via `--VEC_CELLS`, the SEM_HORIZON-style
    * capacity law), a maintenance window at d1 (occupancy/skew + drift
    * PSI audit; the policy stays unarmed — acting is deliberate),
    * takedown of the % 7 = 3 vectors (the q161 dual rewrite under the
    * batch's deterministic gen), then a d2 that re-delivers taken-down
    * ids, suppressed by the feed. Serve = ADC ∪ IVF top-3 for queries
    * vec_id < 10; the oracle is exactly q161's (d0-frozen models,
    * candidates minus the requested ids): green proves the CLI wiring
    * loses nothing over the hand-written lifecycle — a RAG deployment
    * can operate the ANN index from flags. Refusals and crash windows
    * are spec-pinned in OpsMainSpec. */
  def q191OpsVectors(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val hx = Integer.toHexString(dir.hashCode)
    val base = s"graft_q191_p${pid}_$hx"
    val tmp = s"/tmp/graft_q191_${pid}_$hx"
    val tbls = Seq(s"${base}_vec_cb", s"${base}_vec_ctr",
      s"${base}_vec_ctr_next", s"${base}_vec_codes", s"${base}_vec_cells",
      s"${base}_vec_map")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q191_p")
    Warehouse.sweepTmpOrphans("graft_q191_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val emb = Tables.load(s, dir, "embeddings")
    val curateArgs = Array("--JOB", "curate", "--STORE", base,
      "--FAMILIES", "vectors", "--ID_COL", "vec_id",
      "--VEC_COL", "embedding", "--VEC_CELLS", "16",
      "--IN", s"$tmp/in", "--MARKERS", s"$tmp/curmarkers",
      "--REPORTS", s"$tmp/reports",
      "--REQUESTS", s"$tmp/req", "--TD_MARKERS", s"$tmp/tdmarkers")
    graft.Phases.timed("ingest1") {
      (0 until 2).foreach(d =>
        emb.filter(pmod(col("vec_id"), lit(3L)) === d)
          .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
      val r = graft.OpsMain.run(curateArgs, s)
      require(r.contains("\"processed\":[\"d0\",\"d1\"]"), r)
    }
    graft.Phases.timed("maintain") { // audit-only window (policy unarmed)
      val r = graft.OpsMain.run(Array("--JOB", "maintain",
        "--STORE", base, "--FAMILIES", "vectors", "--WINDOW", "d1",
        "--M_MARKERS", s"$tmp/mmarkers", "--AUDITS", s"$tmp/audits"), s)
      require(r.contains("\"audited\":[\"vectors\"]"), r)
    }
    graft.Phases.timed("takedown") {
      emb.filter(pmod(col("vec_id"), lit(7L)) === 3).select("vec_id")
        .write.mode("overwrite").parquet(s"$tmp/req/r0.parquet")
      val r = graft.OpsMain.run(Array("--JOB", "takedown",
        "--STORE", base, "--FAMILIES", "vectors",
        "--REQUESTS", s"$tmp/req", "--TD_MARKERS", s"$tmp/tdmarkers"), s)
      require(r.contains("\"processed\":[\"r0\"]"), r)
    }
    graft.Phases.timed("ingest2") { // d2 re-delivers %7=3 — suppressed
      emb.filter(pmod(col("vec_id"), lit(3L)) === 2)
        .write.mode("overwrite").parquet(s"$tmp/in/d2.parquet")
      val r = graft.OpsMain.run(curateArgs, s)
      require(r.contains("\"processed\":[\"d2\"]"), r)
    }
    val queries = emb.filter(col("vec_id") < 10)
    val out = graft.Phases.timed("serve") {
      val adc = graft.operators.IncrementalVectors
        .adcSearch(s, s"${base}_vec", queries)
        .select(lit("adc").as("method"), col("qid"), col("rank"), col("cid"),
          col("adist").as("score"))
      val ivf = graft.operators.IncrementalVectors
        .ivfSearch(s, s"${base}_vec", queries)
        .select(lit("ivf").as("method"), col("qid"), col("rank"), col("cid"),
          col("cosine").as("score"))
      adc.unionAll(ivf).localCheckpoint() // tables drop below
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    out.orderBy(col("method"), col("qid"), col("rank"))
  }

  /** q192: THE DRIFT POLICY JOB — the detect→act loop CLOSED from
    * config ([[graft.operators.IncrementalVectors.maintainPolicy]]):
    * q141 detects drift, q142 acts (refit + migrate), and until this
    * round nothing DECIDED — the registry's semantic audit scaladoc
    * said "a human (or a policy job) acts". Here the q133 store builds
    * over three dates via OpsMain curation, then ONE maintenance window
    * armed with `--VEC_PSI_REFIT 0.0` measures the per-date occupancy
    * PSI from the store's own rows (baseline = the init date), crosses
    * the bar, refits the coarse quantizer on the drifted corpus (every
    * row OUTSIDE the baseline partition, read from the store's inline
    * vectors — the source corpus is never re-read) and migrates the
    * postings under the window-unique gen `policy_d2`. Serve = the
    * migrated store's IVF top-3; the oracle is exactly q142's
    * (from-scratch deterministic IVF with the d1∪d2 fit slice): green
    * proves the POLICY-triggered refit equals the hand-invoked one —
    * drift response is an operable job, not an operator ritual. The
    * crash window (staged model + committed rewrite, window re-run)
    * resumes via the policy's unconditional same-gen resume,
    * spec-pinned in OpsMainSpec. */
  def q192DriftPolicy(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val hx = Integer.toHexString(dir.hashCode)
    val base = s"graft_q192_p${pid}_$hx"
    val tmp = s"/tmp/graft_q192_${pid}_$hx"
    val tbls = Seq(s"${base}_vec_cb", s"${base}_vec_ctr",
      s"${base}_vec_ctr_next", s"${base}_vec_codes", s"${base}_vec_cells",
      s"${base}_vec_map")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q192_p")
    Warehouse.sweepTmpOrphans("graft_q192_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val emb = Tables.load(s, dir, "embeddings")
    graft.Phases.timed("build") {
      (0 until 3).foreach(d =>
        emb.filter(pmod(col("vec_id"), lit(3L)) === d)
          .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
      val r = graft.OpsMain.run(Array("--JOB", "curate", "--STORE", base,
        "--FAMILIES", "vectors", "--ID_COL", "vec_id",
        "--VEC_COL", "embedding", "--VEC_CELLS", "16",
        "--IN", s"$tmp/in", "--MARKERS", s"$tmp/curmarkers",
        "--REPORTS", s"$tmp/reports"), s)
      require(r.contains("\"processed\":[\"d0\",\"d1\",\"d2\"]"), r)
    }
    graft.Phases.timed("migrate") { // the armed window: detect → refit
      val r = graft.OpsMain.run(Array("--JOB", "maintain",
        "--STORE", base, "--FAMILIES", "vectors", "--WINDOW", "d2",
        "--VEC_PSI_REFIT", "0.0",
        "--M_MARKERS", s"$tmp/mmarkers", "--AUDITS", s"$tmp/audits"), s)
      require(r.contains("\"skipped\":false"), r)
      val parts = s.sql(s"SHOW PARTITIONS ${base}_vec_cells").collect()
        .map(_.getString(0)).toSet
      require(parts == Set("ds=r_policy_d2"),
        s"the policy must have migrated the store: $parts")
    }
    val out = graft.Phases.timed("serve") {
      graft.operators.IncrementalVectors
        .ivfSearch(s, s"${base}_vec", emb.filter(col("vec_id") < 10))
        .localCheckpoint() // eager: the tables drop below (q133's note)
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    out.orderBy(col("qid"), col("rank"))
  }

  /** q193: THE SPAN FAMILY OPERATED FROM CONFIG ALONE — the path-backed
    * `spans` registry entry driven through [[graft.OpsMain]]: curate
    * three dates of the documents corpus into the window-hash count
    * store (`--STORE_DIR`-rooted plain-parquet `ds=` layout), run a
    * maintenance window at d1 (the ADDITIVE path-store compact fold — per-hash
    * counts sum across dates, so the c_d1 label serves bit-equal), then
    * take down the % 7 = 3 documents. A subtract family cannot delete
    * by id alone — counts carry no doc ids — so the registration is
    * `subtractive` (arming the cross-batch dedupe and ordering fences)
    * and the batch's texts come from the retained drops catalog via
    * `--CORPUS`, failing LOUD if any requested id's text aged out
    * (silent under-subtraction is the one unrecoverable corruption).
    * Serve = the surviving docs' span report against the post-delete
    * store; the oracle is q163's (q101's span pipeline over the
    * surviving corpus): green proves compact + subtract + rewrite
    * compose from flags alone, sign-flip windows included. */
  def q193OpsSpans(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val hx = Integer.toHexString(dir.hashCode)
    val tmp = s"/tmp/graft_q193_${pid}_$hx"
    Warehouse.sweepTmpOrphans("graft_q193_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val docs = Tables.load(s, dir, "documents")
    val out = try {
      graft.Phases.timed("build") {
        (0 until 3).foreach(d =>
          docs.filter(pmod(col("doc_id"), lit(3L)) === d)
            .select("doc_id", "text")
            .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
        val r = graft.OpsMain.run(Array("--JOB", "curate",
          "--FAMILIES", "spans",
          "--STORE_DIR", s"$tmp/store", "--ID_COL", "doc_id",
          "--IN", s"$tmp/in", "--MARKERS", s"$tmp/curmarkers",
          "--REPORTS", s"$tmp/reports"), s)
        require(r.contains("\"processed\":[\"d0\",\"d1\",\"d2\"]"), r)
      }
      graft.Phases.timed("maintain") { // additive fold at d1
        val r = graft.OpsMain.run(Array("--JOB", "maintain",
          "--FAMILIES", "spans",
          "--STORE_DIR", s"$tmp/store", "--WINDOW", "d1",
          "--M_MARKERS", s"$tmp/mmarkers", "--AUDITS", s"$tmp/audits"), s)
        require(r.contains("\"maintained\":[\"spans\"]"), r)
      }
      graft.Phases.timed("takedown") { // subtract via the drops catalog
        docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id")
          .write.mode("overwrite").parquet(s"$tmp/req/r0.parquet")
        val r = graft.OpsMain.run(Array("--JOB", "takedown",
          "--FAMILIES", "spans",
          "--STORE_DIR", s"$tmp/store", "--ID_COL", "doc_id",
          "--CORPUS", s"$tmp/in",
          "--REQUESTS", s"$tmp/req", "--TD_MARKERS", s"$tmp/tdmarkers"), s)
        require(r.contains("\"processed\":[\"r0\"]"), r)
      }
      graft.Phases.timed("serve") {
        graft.operators.IncrementalSpans.report(
            docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3),
            s"$tmp/store/spans")
          .localCheckpoint() // eager: the store dir is deleted below
      }
    } finally fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    out.orderBy(col("doc_id"))
  }

  /** q194: THE CLUSTERING FAMILY OPERATED FROM CONFIG ALONE — the
    * path-backed `components` registry entry driven through
    * [[graft.OpsMain]]: three dates curated (each date's slice is
    * clustered incrementally against the accumulated signature store;
    * candidate ENDPOINT texts re-read from the retained drops catalog —
    * the `--IN` contract; the EDGE STORE is always built, keeping
    * deletion possible), a maintenance window at d1 (label compaction +
    * repmap version pruning — pure re-bins, the q149 law), then
    * takedown of the % 7 = 3 docs — the hardest tombstone: membership
    * is a FUNCTION of the edge set, so the pass drops signatures and
    * touching edges and RECOMPUTES components over the survivors
    * (edge-sized, never corpus-sized), bridge splits included. Serve =
    * the post-delete label report; the oracle is q162's (q62's
    * recursive closure over the surviving corpus): green proves the
    * whole lifecycle — incremental clustering, maintenance, exact
    * unlearning — runs from flags alone. */
  def q194OpsComponents(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val hx = Integer.toHexString(dir.hashCode)
    val tmp = s"/tmp/graft_q194_${pid}_$hx"
    Warehouse.sweepTmpOrphans("graft_q194_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val docs = Tables.load(s, dir, "documents")
    val lab = try {
      graft.Phases.timed("build") {
        (0 until 3).foreach(d =>
          docs.filter(pmod(col("doc_id"), lit(3L)) === d)
            .select("doc_id", "text")
            .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
        val r = graft.OpsMain.run(Array("--JOB", "curate",
          "--FAMILIES", "components",
          "--STORE_DIR", s"$tmp/store", "--ID_COL", "doc_id",
          "--IN", s"$tmp/in", "--MARKERS", s"$tmp/curmarkers",
          "--REPORTS", s"$tmp/reports"), s)
        require(r.contains("\"processed\":[\"d0\",\"d1\",\"d2\"]"), r)
      }
      graft.Phases.timed("maintain") {
        val r = graft.OpsMain.run(Array("--JOB", "maintain",
          "--FAMILIES", "components",
          "--STORE_DIR", s"$tmp/store", "--WINDOW", "d1",
          "--M_MARKERS", s"$tmp/mmarkers", "--AUDITS", s"$tmp/audits"), s)
        require(r.contains("\"audited\":[\"components\"]"), r)
      }
      graft.Phases.timed("takedown") {
        docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id")
          .write.mode("overwrite").parquet(s"$tmp/req/r0.parquet")
        val r = graft.OpsMain.run(Array("--JOB", "takedown",
          "--FAMILIES", "components",
          "--STORE_DIR", s"$tmp/store",
          "--REQUESTS", s"$tmp/req", "--TD_MARKERS", s"$tmp/tdmarkers"), s)
        require(r.contains("\"processed\":[\"r0\"]"), r)
      }
      graft.Phases.timed("serve") {
        graft.operators.IncrementalComponents
          .currentLabels(s, s"$tmp/store/components_labels",
            s"$tmp/store/components_repmap")
          .localCheckpoint()
      }
    } finally fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val siz = lab.groupBy(col("component")).agg(count(lit(1)).as("csize"))
    val report = lab.join(siz, Seq("component"))
      .select(col("id").as("doc_id"), col("component"),
        col("csize").cast("bigint").as("component_size"),
        (col("id") === col("component")).as("is_canonical"))
      .orderBy(col("doc_id"))
      .localCheckpoint() // eager: lab freed before the caller reads
    graft.operators.Components.freeLocalCheckpoint(lab)
    report
  }

  /** q195: THE SQ8 FAMILY OPERATED FROM CONFIG ALONE — the scalar index
    * joins the registry: curate d0+d1 of the embeddings corpus
    * (INIT-ON-DEMAND at d0 — the grid is the init slice's per-dimension
    * min/max, the one frozen model with NO capacity hyperparameter, so
    * no declared-capacity flag), a maintenance window at d1 (the pure
    * re-bin code fold, q156's law, plus the per-date SATURATION audit —
    * q154's drift signal served from the store's own rows), takedown of
    * the % 7 = 3 vectors (the marker-committed id-keyed rewrite), then
    * a d2 that re-delivers taken-down ids, suppressed by the feed.
    * Serve = the asymmetric reconstruct-rank for queries vec_id < 10;
    * the oracle is q164's (d0-frozen grid, candidates minus the
    * requested ids): green proves the CLI wiring loses nothing over the
    * hand-written lifecycle for the third index family. */
  def q195OpsSq8(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val hx = Integer.toHexString(dir.hashCode)
    val base = s"graft_q195_p${pid}_$hx"
    val tmp = s"/tmp/graft_q195_${pid}_$hx"
    val tbls = Seq(s"${base}_sq_grid", s"${base}_sq_grid_prev",
      s"${base}_sq_codes")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q195_p")
    Warehouse.sweepTmpOrphans("graft_q195_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val emb = Tables.load(s, dir, "embeddings")
    val curateArgs = Array("--JOB", "curate", "--STORE", base,
      "--FAMILIES", "sq8", "--ID_COL", "vec_id",
      "--VEC_COL", "embedding",
      "--IN", s"$tmp/in", "--MARKERS", s"$tmp/curmarkers",
      "--REPORTS", s"$tmp/reports",
      "--REQUESTS", s"$tmp/req", "--TD_MARKERS", s"$tmp/tdmarkers")
    graft.Phases.timed("ingest1") { // d0 inits the grid on its own slice
      (0 until 2).foreach(d =>
        emb.filter(pmod(col("vec_id"), lit(3L)) === d)
          .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
      val r = graft.OpsMain.run(curateArgs, s)
      require(r.contains("\"processed\":[\"d0\",\"d1\"]"), r)
    }
    graft.Phases.timed("maintain") { // re-bin fold + saturation audit
      val r = graft.OpsMain.run(Array("--JOB", "maintain",
        "--STORE", base, "--FAMILIES", "sq8", "--WINDOW", "d1",
        "--M_MARKERS", s"$tmp/mmarkers", "--AUDITS", s"$tmp/audits"), s)
      require(r.contains("\"maintained\":[\"sq8\"]") &&
        r.contains("\"audited\":[\"sq8\"]"), r)
    }
    graft.Phases.timed("takedown") {
      emb.filter(pmod(col("vec_id"), lit(7L)) === 3).select("vec_id")
        .write.mode("overwrite").parquet(s"$tmp/req/r0.parquet")
      val r = graft.OpsMain.run(Array("--JOB", "takedown",
        "--STORE", base, "--FAMILIES", "sq8",
        "--REQUESTS", s"$tmp/req", "--TD_MARKERS", s"$tmp/tdmarkers"), s)
      require(r.contains("\"processed\":[\"r0\"]"), r)
    }
    graft.Phases.timed("ingest2") { // d2 re-delivers %7=3 — suppressed
      emb.filter(pmod(col("vec_id"), lit(3L)) === 2)
        .write.mode("overwrite").parquet(s"$tmp/in/d2.parquet")
      val r = graft.OpsMain.run(curateArgs, s)
      require(r.contains("\"processed\":[\"d2\"]"), r)
    }
    val out = graft.Phases.timed("serve") {
      graft.operators.IncrementalSQ
        .search(s, s"${base}_sq", emb.filter(col("vec_id") < 10))
        .localCheckpoint() // eager: tables dropped before caller's action
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    out.orderBy(col("qid"), col("rank"))
  }

  /** q196: THE NB LANGUAGE MODEL OPERATED FROM CONFIG ALONE — the
    * path-backed `langmodel` registry entry driven through
    * [[graft.OpsMain]]: three dates of labeled documents curated into
    * the additive trigram-count + prior store (`--LANG_COL` names the
    * label column — the one curate input the other families don't
    * read), a maintenance window at d1 (the additive path-store compact folds
    * — counts sum per (cand, tri), priors per cand, so the compacted
    * model scores bit-equal — plus the model-shape audit), then
    * takedown of the % 7 = 3 documents: EXACT UNLEARNING, the decrement
    * that reaches the MODEL itself, fed texts AND labels from the
    * retained drops catalog via `--CORPUS` and failing LOUD on an
    * aged-out id (the subtract-family rule; the registration arms the
    * cross-batch dedupe fences). Serve = the surviving docs scored
    * against the unlearned accumulated model; the oracle is q166's (a
    * from-scratch NB train over the survivors, vocabulary and candidate
    * set shrink included): green proves decrement-IS-retraining holds
    * when every step is a flag, not an operator call. */
  def q196OpsLangModel(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val hx = Integer.toHexString(dir.hashCode)
    val tmp = s"/tmp/graft_q196_${pid}_$hx"
    Warehouse.sweepTmpOrphans("graft_q196_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val docs = Tables.load(s, dir, "documents")
    val out = try {
      graft.Phases.timed("build") {
        (0 until 3).foreach(d =>
          docs.filter(pmod(col("doc_id"), lit(3L)) === d)
            .select("doc_id", "text", "lang")
            .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
        val r = graft.OpsMain.run(Array("--JOB", "curate",
          "--FAMILIES", "langmodel",
          "--STORE_DIR", s"$tmp/store", "--ID_COL", "doc_id",
          "--IN", s"$tmp/in", "--MARKERS", s"$tmp/curmarkers",
          "--REPORTS", s"$tmp/reports"), s)
        require(r.contains("\"processed\":[\"d0\",\"d1\",\"d2\"]"), r)
      }
      graft.Phases.timed("maintain") { // additive folds at d1 + audit
        val r = graft.OpsMain.run(Array("--JOB", "maintain",
          "--FAMILIES", "langmodel",
          "--STORE_DIR", s"$tmp/store", "--WINDOW", "d1",
          "--M_MARKERS", s"$tmp/mmarkers", "--AUDITS", s"$tmp/audits"), s)
        require(r.contains("\"maintained\":[\"langmodel\"]") &&
          r.contains("\"audited\":[\"langmodel\"]"), r)
      }
      graft.Phases.timed("takedown") { // unlearn via the drops catalog
        docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id")
          .write.mode("overwrite").parquet(s"$tmp/req/r0.parquet")
        val r = graft.OpsMain.run(Array("--JOB", "takedown",
          "--FAMILIES", "langmodel",
          "--STORE_DIR", s"$tmp/store", "--ID_COL", "doc_id",
          "--CORPUS", s"$tmp/in",
          "--REQUESTS", s"$tmp/req", "--TD_MARKERS", s"$tmp/tdmarkers"), s)
        require(r.contains("\"processed\":[\"r0\"]"), r)
      }
      graft.Phases.timed("serve") {
        val kept = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3)
        val (model, priors) = graft.operators.IncrementalLangModel
          .model(s, s"$tmp/store/langmodel")
        nbArgmax(kept, nbScoresAgainst(kept, model, priors,
            priors.agg(sum(col("ndl")).as("nd"))))
          .localCheckpoint() // eager: the store dir is deleted below
      }
    } finally fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    out.orderBy(col("doc_id"))
  }

  /** q197: THE LATE-INTERACTION FAMILY OPERATED FROM CONFIG ALONE — the
    * `maxsim` registry entry: the token store is an [[graft.operators
    * .IncrementalVectors]] store over PER-TOKEN vectors (q171/q173's
    * serving substrate; `--VEC_CELLS` capacity law at d0), and the
    * registration's own semantics is the TAKEDOWN — erasure requests
    * name DOCUMENTS while the store holds TOKENS, so the family expands
    * each requested doc id to its `--TOKENS_PER_DOC` token ids before
    * the q161-style dual rewrite: one flag-driven batch removes every
    * token vector of the % 7 = 3 documents. A maintenance window at d1
    * runs the shared occupancy/drift audit (policy unarmed). Serve =
    * the q171 stack with BOTH stages reading only survivors — per-token
    * IVF nomination through the post-delete lists, exact MaxSim re-rank
    * gathered from the store's own cell rows; the oracle is q173's
    * (frozen-model pipeline with deleted candidates excluded): green
    * proves a document taken down BY DOC ID can never be retrieved or
    * scored through the late-interaction path. */
  def q197OpsMaxSim(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val hx = Integer.toHexString(dir.hashCode)
    val base = s"graft_q197_p${pid}_$hx"
    val tmp = s"/tmp/graft_q197_${pid}_$hx"
    val tbls = Seq("_tok_cb", "_tok_ctr", "_tok_ctr_next", "_tok_codes",
      "_tok_cells", "_tok_map").map(base + _)
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q197_p")
    Warehouse.sweepTmpOrphans("graft_q197_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val emb = Tables.load(s, dir, "embeddings")
    graft.Phases.timed("build") { // d0 = the fit slice (init-on-demand)
      (0 until 3).foreach(d =>
        emb.filter(pmod(col("vec_id"), lit(3L)) === d)
          .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
      val r = graft.OpsMain.run(Array("--JOB", "curate", "--STORE", base,
        "--FAMILIES", "maxsim", "--ID_COL", "vec_id",
        "--VEC_COL", "embedding", "--VEC_CELLS", "16",
        "--IN", s"$tmp/in", "--MARKERS", s"$tmp/curmarkers",
        "--REPORTS", s"$tmp/reports"), s)
      require(r.contains("\"processed\":[\"d0\",\"d1\",\"d2\"]"), r)
    }
    graft.Phases.timed("maintain") { // audit-only window (policy unarmed)
      val r = graft.OpsMain.run(Array("--JOB", "maintain",
        "--STORE", base, "--FAMILIES", "maxsim", "--WINDOW", "d1",
        "--M_MARKERS", s"$tmp/mmarkers", "--AUDITS", s"$tmp/audits"), s)
      require(r.contains("\"audited\":[\"maxsim\"]"), r)
    }
    graft.Phases.timed("takedown") { // DOC ids in, token rewrite out
      emb.filter(expr("(vec_id div 8) % 7 = 3"))
        .select(expr("vec_id div 8").as("doc")).distinct()
        .write.mode("overwrite").parquet(s"$tmp/req/r0.parquet")
      val r = graft.OpsMain.run(Array("--JOB", "takedown",
        "--STORE", base, "--FAMILIES", "maxsim",
        "--REQUESTS", s"$tmp/req", "--TD_MARKERS", s"$tmp/tdmarkers"), s)
      require(r.contains("\"processed\":[\"r0\"]"), r)
    }
    val out = graft.Phases.timed("serve") {
      val storeTok = graft.operators.StoreMaintenance
        .consistentScan(s, TableLoc(s"${base}_tok_cells"))
        .select(expr("id div 8").as("doc"),
          pmod(col("id"), lit(8)).cast("int").as("pos"),
          col("e").as("emb"), col("n").as("nrm"))
      maxSimStoreServe(s, s"${base}_tok", emb.filter(col("vec_id") < 24),
          storeTok)
        .localCheckpoint() // eager: tables dropped before caller's action
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    out.orderBy(col("qdoc"), col("rank"))
  }

  /** q198: THE MATRYOSHKA FAMILY OPERATED FROM CONFIG ALONE — the
    * two-stage prefix index joins the registry: curate d0–d2 (the
    * prefix quantizer freezes its cell count AND width at d0 under
    * `--MAT_CELLS`/`--MAT_PDIM`; on every later append the width is
    * derived FROM the persisted centroid table, so a mismatched flag
    * cannot silently assign by the wrong prefix), a maintenance window
    * at d1 (pure re-bin cell fold + the shared occupancy/drift audit —
    * [[graft.operators.IncrementalVectors]]' audit pair reads any
    * `_cells`+`_ctr` store), takedown of the % 7 = 3 vectors. Serve =
    * the two-stage top-3 (prefix probe, full-dimension re-rank) over
    * the survivors; the oracle is q157's deterministic-IVF replay with
    * the deleted candidates excluded: green proves the cheap-stage-1 /
    * exact-stage-2 index is operable — and erasable — from flags
    * alone. */
  def q198OpsMatryoshka(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val hx = Integer.toHexString(dir.hashCode)
    val base = s"graft_q198_p${pid}_$hx"
    val tmp = s"/tmp/graft_q198_${pid}_$hx"
    val tbls = Seq(s"${base}_mat_ctr", s"${base}_mat_cells")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q198_p")
    Warehouse.sweepTmpOrphans("graft_q198_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val emb = Tables.load(s, dir, "embeddings")
    graft.Phases.timed("build") { // d0 freezes the prefix quantizer
      (0 until 3).foreach(d =>
        emb.filter(pmod(col("vec_id"), lit(3L)) === d)
          .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
      val r = graft.OpsMain.run(Array("--JOB", "curate", "--STORE", base,
        "--FAMILIES", "matryoshka", "--ID_COL", "vec_id",
        "--VEC_COL", "embedding", "--MAT_CELLS", "16",
        "--IN", s"$tmp/in", "--MARKERS", s"$tmp/curmarkers",
        "--REPORTS", s"$tmp/reports"), s)
      require(r.contains("\"processed\":[\"d0\",\"d1\",\"d2\"]"), r)
    }
    graft.Phases.timed("maintain") { // re-bin fold + occ/drift audit
      val r = graft.OpsMain.run(Array("--JOB", "maintain",
        "--STORE", base, "--FAMILIES", "matryoshka", "--WINDOW", "d1",
        "--M_MARKERS", s"$tmp/mmarkers", "--AUDITS", s"$tmp/audits"), s)
      require(r.contains("\"maintained\":[\"matryoshka\"]") &&
        r.contains("\"audited\":[\"matryoshka\"]"), r)
    }
    graft.Phases.timed("takedown") {
      emb.filter(pmod(col("vec_id"), lit(7L)) === 3).select("vec_id")
        .write.mode("overwrite").parquet(s"$tmp/req/r0.parquet")
      val r = graft.OpsMain.run(Array("--JOB", "takedown",
        "--STORE", base, "--FAMILIES", "matryoshka",
        "--REQUESTS", s"$tmp/req", "--TD_MARKERS", s"$tmp/tdmarkers"), s)
      require(r.contains("\"processed\":[\"r0\"]"), r)
    }
    val out = graft.Phases.timed("serve") {
      graft.operators.Matryoshka
        .search(s, s"${base}_mat", emb.filter(col("vec_id") < 10))
        .localCheckpoint() // eager: tables dropped before caller's action
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    out.orderBy(col("qid"), col("rank"))
  }

  /** q199: THE SEMANTIC RE-BAND POLICY JOB — the banding family's
    * detect→act loop closed from config, the q192 symmetry the registry
    * audit's scaladoc left to "a human (or a policy job)": the store is
    * curated over d0–d2 under a DELIBERATELY OUTGROWN horizon
    * (`--SEM_HORIZON 100` → the width law freezes r = 7 while the
    * corpus is far larger — under-declared bands are narrower, so
    * recall stays 1 and only the candidate MASS suffers, which is
    * exactly the drift a re-band repairs), then ONE maintenance window
    * armed with `--SEM_PSI_REBAND 0.0` measures per-date occupancy PSI
    * against the d0 baseline, finds the width law at the store's
    * CURRENT size derives a wider band, and re-bands every stored
    * vector from the store's own id-bucketed vector table under the
    * window-unique gen `policy_d2` — the corpus is never re-read. d3
    * then appends AGAINST the re-banded width. Serve = the pre-re-band
    * day reports (d0–d2, pinned parquet in the report sink — the store
    * state they were computed at is consumed by the fold) ∪ d3's pairs
    * against the full post-re-band store (`upTo = None`: the as-of
    * caveat excludes `r_*` labels, so the day report's own as-of view
    * cannot see folded history — the serve reads unrestricted instead);
    * the oracle is q178's EXACT all-pairs gate verbatim. Green proves
    * the policy-triggered width migration loses not one pair across
    * the re-band — detection, decision, act, and the next day's
    * ingestion all from flags alone. */
  def q199SemPolicy(s: SparkSession, dir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val hx = Integer.toHexString(dir.hashCode)
    val base = s"graft_q199_p${pid}_$hx"
    val tmp = s"/tmp/graft_q199_${pid}_$hx"
    val tbls = Seq("_sem_cfg", "_sem_cfg_prev", "_sem_bands", "_sem_vecs",
      "_sem_occ").map(base + _)
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q199_p")
    Warehouse.sweepTmpOrphans("graft_q199_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val aug = augmentedEmbeddings(s, dir)
    val curateArgs = Array("--JOB", "curate", "--STORE", base,
      "--FAMILIES", "semantic", "--ID_COL", "vec_id",
      "--VEC_COL", "embedding", "--SEM_HORIZON", "100",
      "--IN", s"$tmp/in", "--MARKERS", s"$tmp/curmarkers",
      "--REPORTS", s"$tmp/reports")
    graft.Phases.timed("build") { // frozen at the outgrown 100-row law
      (0 until 3).foreach(d =>
        aug.filter(pmod(col("vec_id"), lit(4L)) === d)
          .write.mode("overwrite").parquet(s"$tmp/in/d$d.parquet"))
      val r = graft.OpsMain.run(curateArgs, s)
      require(r.contains("\"processed\":[\"d0\",\"d1\",\"d2\"]"), r)
    }
    graft.Phases.timed("migrate") { // the armed window: detect → re-band
      val r = graft.OpsMain.run(Array("--JOB", "maintain",
        "--STORE", base, "--FAMILIES", "semantic", "--WINDOW", "d2",
        "--SEM_PSI_REBAND", "0.0",
        "--M_MARKERS", s"$tmp/mmarkers", "--AUDITS", s"$tmp/audits"), s)
      require(r.contains("\"skipped\":false"), r)
      val parts = s.sql(s"SHOW PARTITIONS ${base}_sem_bands").collect()
        .map(_.getString(0)).toSet
      require(parts == Set("ds=r_policy_d2"),
        s"the policy must have re-banded the store: $parts")
    }
    graft.Phases.timed("append") { // d3 lands at the re-banded width
      aug.filter(pmod(col("vec_id"), lit(4L)) === 3)
        .write.mode("overwrite").parquet(s"$tmp/in/d3.parquet")
      val r = graft.OpsMain.run(curateArgs, s)
      require(r.contains("\"processed\":[\"d3\"]"), r)
    }
    val out = graft.Phases.timed("serve") {
      val pre = s.read.parquet(s"$tmp/reports/semantic")
        .filter(col("ds").isin("d0", "d1", "d2"))
        .drop("ds")
      val d3 = graft.operators.IncrementalSemantic
        .newPairs(s, s"${base}_sem", "d3", 0.9, upTo = None)
      pre.unionByName(d3).localCheckpoint() // tables dropped below
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    out.orderBy(col("a_id"), col("b_id"))
  }

  /** q95's pipeline with an EXPLICIT band-width override — NOT an oracle
    * query, retained as the override-path ScaleProbe entry: `rowsPerBand`
    * is a log₂N knob (README round 6 — at fixture N the 4-bit setting
    * measured 113.8× growth; the fixed 8-bit default later measured >74 GB
    * of pigeonhole spill at 50× before the run was aborted). Since round
    * 12 the law is the DEFAULT — q95 itself derives ⌈log₂N⌉ bits from a
    * plan-time count ([[graft.operators.Similarity.derivedRowsPerBand]])
    * and needs no knob at any scale; this entry pins that the explicit
    * override still composes (12-bit × 16 bands over 192 planes). */
  def q95ScaledBands(s: SparkSession, dir: String): DataFrame =
    graft.operators.Components.dedupClusters(
        Similarity.cosineNearDupBanded(augmentedEmbeddings(s, dir), 0.9,
            nPlanes = 192, rowsPerBand = Some(12))
          .select(col("a_id"), col("b_id")))
      .select(col("id").as("vec_id"), col("component"),
        col("component_size"), col("is_canonical"))
      .orderBy(col("vec_id"))

  /** Product-quantization ADC search (q96): 64-dim vectors → 8 codes
    * against content-addressed 16-centroid subspace codebooks, queries
    * (vec_id < 10, q44's convention) ranked by asymmetric distance — the
    * memory-compressed ANN path next to brute (q30) / LSH (q31) / IVF
    * (q44). Every stage is closed-form (hash-seeded codebook, exact
    * decimal-summed distances), so the oracle replays codebook, code
    * assignment, and ADC ranking bit-exactly. */
  def q96PqAdc(s: SparkSession, dir: String): DataFrame =
    graft.operators.PQ.adcTopK(Tables.load(s, dir, "embeddings"),
        col("vec_id") < 10, topK = 3)
      .orderBy(col("qid"), col("rank"))

  /** Persisted incremental vector-index store (q133) — the q92/q128
    * bucketed-store contract applied to ANN, closing the last index
    * family still rebuilt from scratch per query: models (PQ codebook +
    * IVF quantizer centroids) are trained once on the INITIAL ingestion
    * date and frozen in the store; each of three date slices then
    * encodes its own vectors once (codes bucketed by id, cell postings
    * bucketed by cell); both searches serve from the accumulated store
    * with no re-encoding (see [[graft.operators.IncrementalVectors]]).
    * Output = ADC top-3 ∪ deterministic-IVF top-3 for queries
    * vec_id < 10, tagged by method. The oracle replays init (d0-seeded
    * codebook, d0-fitted k-means), the union-corpus encode, and both
    * rankings bit-exactly — a green hash gates that the served-from-
    * store results equal the from-scratch pipelines with the same
    * frozen models. */
  def q133VectorStore(s: SparkSession, dir: String): DataFrame = {
    val base = s"graft_q133_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq(s"${base}_cb", s"${base}_ctr", s"${base}_codes",
      s"${base}_cells", s"${base}_map")
    // clean slate + dead-pid orphan sweep (q128's lifecycle, pid-safe)
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q133_p")
    val emb = Tables.load(s, dir, "embeddings")
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    graft.Phases.timed("build") {
      graft.operators.IncrementalVectors.initModel(slice(0), base)
      (0 until 3).foreach { d =>
        graft.operators.IncrementalVectors.appendDate(slice(d), base, s"d$d")
      }
    }
    val queries = emb.filter(col("vec_id") < 10)
    // eager materialization so the tables can be dropped before the
    // caller's action (q128's note: a lazy plan needs the tables alive)
    val out = graft.Phases.timed("serve") {
      val adc = graft.operators.IncrementalVectors
        .adcSearch(s, base, queries)
        .select(lit("adc").as("method"), col("qid"), col("rank"), col("cid"),
          col("adist").as("score"))
      val ivf = graft.operators.IncrementalVectors
        .ivfSearch(s, base, queries)
        .select(lit("ivf").as("method"), col("qid"), col("rank"), col("cid"),
          col("cosine").as("score"))
      adc.unionAll(ivf).localCheckpoint()
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("method"), col("qid"), col("rank"))
  }

  /** q133's searches SERVED from a memoized store (q136) — the
    * serve-side visibility number: q133 honestly times the whole
    * lifecycle (sweep + model init + three bucketed encodes + searches +
    * drops), which buries the store's reason to exist — the serve-time
    * win — inside build cost. This companion builds the SAME store once
    * per (process, sf dir) and KEEPS it: the first call pays the build,
    * every later call is pure serving (ADC reads the id-bucketed codes
    * with zero store exchanges, IVF bucket-prunes to the probed cells).
    * Under the bench harness's min-of-N reps the published number is
    * therefore the serve-only latency — the q92 bucketed-report
    * precedent, applied to ANN. Output and oracle are exactly q133's
    * (same frozen-at-d0 models, same corpus, same queries); the store
    * outlives the process deliberately and the next process's dead-pid
    * sweep reclaims it. */
  /** The q136/q167 SHARED memoized store: the q133-shaped vector store
    * (models frozen at d0, three date appends over the full corpus)
    * built once per (process, sf dir) and KEPT — the first caller pays
    * the build, every later serve-only row reads it for free. Returns
    * the store's base table name. */
  private def memoVectorStore(s: SparkSession, dir: String): String = {
    val base = s"graft_q136_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq("_cb", "_ctr", "_codes", "_cells", "_map").map(base + _)
    Warehouse.sweepOrphans(s, "graft_q136_p")
    val emb = Tables.load(s, dir, "embeddings")
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    // memoized build: all four store tables present ⇒ a previous call in
    // THIS process built them (pid-named, swept when the pid dies);
    // anything less is a partial build — wipe and rebuild
    val built = tbls.take(4).forall(s.catalog.tableExists)
    if (!built) {
      tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      graft.operators.IncrementalVectors.initModel(slice(0), base)
      (0 until 3).foreach { d =>
        graft.operators.IncrementalVectors.appendDate(slice(d), base, s"d$d")
      }
    }
    base
  }

  def q136VectorServe(s: SparkSession, dir: String): DataFrame = {
    val base = memoVectorStore(s, dir)
    val emb = Tables.load(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val adc = graft.operators.IncrementalVectors
      .adcSearch(s, base, queries)
      .select(lit("adc").as("method"), col("qid"), col("rank"), col("cid"),
        col("adist").as("score"))
    val ivf = graft.operators.IncrementalVectors
      .ivfSearch(s, base, queries)
      .select(lit("ivf").as("method"), col("qid"), col("rank"), col("cid"),
        col("cosine").as("score"))
    adc.unionAll(ivf).orderBy(col("method"), col("qid"), col("rank"))
  }

  /** q167: FILTERED vector search — the metadata-restricted serve every
    * production vector index offers (category/tenant/language filters):
    * both q133 searches run over the [[memoVectorStore]] with the
    * candidate set restricted to vectors whose `label` is even, via
    * [[graft.operators.IncrementalStore.allowFilter]] — the allow-list
    * is computed at the metadata scan (predicate pushed down THERE) and
    * semi-joined against the candidates BEFORE scoring, so the top-k is
    * exact over the filtered corpus, never a post-filtered (and possibly
    * short) unfiltered top-k. Serve economics compose: IVF still
    * bucket-prunes to probed cells, ADC's id-bucketed aggregate stays
    * exchange-free under the broadcast semi-join (plan-pinned in
    * IncrementalVectorsSpec). The oracle replays both frozen-model
    * pipelines with the candidates restricted by an IN-subquery over
    * the same metadata predicate. */
  def q167FilteredAnn(s: SparkSession, dir: String): DataFrame = {
    val base = memoVectorStore(s, dir)
    val emb = Tables.load(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val allowed = Some(emb.filter(pmod(col("label"), lit(2)) === 0)
      .select(col("vec_id")))
    val adc = graft.operators.IncrementalVectors
      .adcSearch(s, base, queries, allowed = allowed)
      .select(lit("adc").as("method"), col("qid"), col("rank"), col("cid"),
        col("adist").as("score"))
    val ivf = graft.operators.IncrementalVectors
      .ivfSearch(s, base, queries, allowed = allowed)
      .select(lit("ivf").as("method"), col("qid"), col("rank"), col("cid"),
        col("cosine").as("score"))
    adc.unionAll(ivf).orderBy(col("method"), col("qid"), col("rank"))
  }

  /** The q168 SHARED memoized LEXICAL store: q158's postings+norms
    * store (three ingestion dates over the full corpus) built once per
    * (process, sf dir) and KEPT — the filtered-serving row pays serve
    * cost only after the first build (the [[memoVectorStore]]
    * precedent). */
  private def memoLexStore(s: SparkSession, dir: String): String = {
    val base = s"graft_q168lex_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    Warehouse.sweepOrphans(s, "graft_q168lex_p")
    val built = Seq(base, s"${base}_dl").forall(s.catalog.tableExists)
    if (!built) {
      Seq(base, s"${base}_dl").foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      val docs = Tables.load(s, dir, "documents")
      (0 until 3).foreach { d =>
        val slice = docs.filter(pmod(col("doc_id"), lit(3L)) === d)
        graft.operators.IncrementalPostings
          .appendCountsBucketed(slice, base, s"d$d")
        graft.operators.IncrementalPostings.appendNorms(slice, base, s"d$d")
      }
    }
    base
  }

  /** q168: FILTERED HYBRID retrieval — the tenant/language-scoped
    * serving stack: both legs of the store-served hybrid restricted to
    * English documents ("search within a language" — the filter every
    * production retrieval API exposes). The lexical leg serves BM25
    * from the memoized postings+norms store with the allow-list
    * semi-joined BEFORE scoring while n_docs/avgdl/df stay CORPUS-wide
    * ([[graft.operators.Search.bm25Score]]'s filtered contract — a
    * doc's score depends on itself and the corpus, not on the other
    * candidates); the dense leg is the q133 store's IVF ranking with
    * the same doc allow-list restricting candidates after the bucket
    * prune, before any dot product — the cross-table shape (vector
    * candidates filtered by their DOCUMENT's metadata) that makes
    * filtered retrieval a join problem, solved here with one
    * pushed-down metadata scan + broadcast semi-join per leg.
    * Reciprocal-rank fusion on top, the q159 convention. The oracle
    * replays both filtered legs and the fusion end to end. */
  def q168FilteredHybrid(s: SparkSession, dir: String): DataFrame = {
    val vecBase = memoVectorStore(s, dir)
    val lexBase = memoLexStore(s, dir)
    val docs = Tables.load(s, dir, "documents")
    val emb = Tables.load(s, dir, "embeddings")
    val allowedDocs = docs.filter(col("lang") === "en").select("doc_id")
    val rankW = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    val lex = graft.operators.IncrementalPostings
      .bm25Bucketed(s, lexBase, Seq("data", "query"),
        allowed = Some(allowedDocs))
      // partition-less window is safe: it ranks the 10-row top-k result
      .withColumn("rank", row_number().over(rankW))
      .select(col("doc_id").as("id"), col("rank"))
    val vec = graft.operators.IncrementalVectors
      .ivfSearch(s, vecBase, emb.filter(col("vec_id") === 0),
        kNeighbors = 10, allowed = Some(allowedDocs))
      .select(col("cid").as("id"), col("rank"))
    graft.operators.Search.rrfFuse(Seq(lex, vec))
      .orderBy(col("rrf_score").desc, col("id"))
  }

  /** q169: LATE-INTERACTION retrieval, exact — MaxSim over per-token
    * embeddings ([[graft.operators.LateInteraction]]): vectors group
    * into docs of 8 consecutive ids, queries are the first 3 docs, and
    * each is ranked against the rest by Σ per-query-token max cosine.
    * The audit baseline for q170's two-stage serving path (the q30/q31
    * relationship, multi-vector edition). Oracle replays the token
    * grouping, every cosine, the per-token max, the decimal MaxSim sum,
    * and the (score DESC, cdoc) ranking. */
  def q169MaxSimBrute(s: SparkSession, dir: String): DataFrame = {
    val tok = graft.operators.LateInteraction
      .tokenView(Tables.load(s, dir, "embeddings"))
    graft.operators.LateInteraction
      .maxSimBrute(tok, tok.filter(col("doc") < 3))
      .orderBy(col("qdoc"), col("rank"))
  }

  /** q170: the deployed late-interaction SERVING shape — token-level
    * top-16 nominations (bounded-state TopK plan; the stage a token
    * ANN index fills at 100 TB) → candidate-doc gather → EXACT MaxSim
    * re-rank on |Q|·C docs only. The oracle replays nomination
    * (ROW_NUMBER over the total cosine order), the candidate union,
    * and the re-rank bit-for-bit, so the gate covers the pruning
    * semantics, not just the final scores. */
  def q170MaxSimPruned(s: SparkSession, dir: String): DataFrame = {
    val tok = graft.operators.LateInteraction
      .tokenView(Tables.load(s, dir, "embeddings"))
    graft.operators.LateInteraction
      .maxSimPruned(tok, tok.filter(col("doc") < 3))
      .orderBy(col("qdoc"), col("rank"))
  }

  /** q171: STORE-SERVED late interaction — the q170 serving shape with
    * its nomination stage filled by the PERSISTED index, as deployed:
    * each of the 24 query tokens probes the [[memoVectorStore]]'s IVF
    * lists ([[graft.operators.IncrementalVectors.ivfSearch]], frozen
    * d0 models, top-8 per token), nominated vectors map to their docs
    * (own doc excluded), and [[graft.operators.LateInteraction.rerank]]
    * recomputes exact MaxSim over the gathered candidates. Everything
    * corpus-sized was paid at indexing time; the serve is 24 bucket-
    * pruned probes + a |Q|·C re-rank. Oracle replays the deterministic
    * IVF for all 24 token queries, the nomination cut, the doc union,
    * and the re-rank bit-for-bit. */
  /** The q171/q172/q173 shared serving stack: per-token IVF nomination
    * against `base` (top-8, optional allow-list), doc-level candidate
    * union (own doc excluded), exact MaxSim re-rank over `tokens`. */
  private def maxSimStoreServe(s: SparkSession, base: String,
      queries: DataFrame, tokens: DataFrame,
      allowed: Option[DataFrame] = None): DataFrame = {
    val nom = graft.operators.IncrementalVectors
      .ivfSearch(s, base, queries, kNeighbors = 8, allowed = allowed)
    val cand = nom.select(expr("qid div 8").as("qdoc"),
        expr("cid div 8").as("cdoc"))
      .filter(col("qdoc") =!= col("cdoc")).distinct()
    graft.operators.LateInteraction
      .rerank(tokens, tokens.filter(col("doc") < 3), cand)
  }

  def q171MaxSimStore(s: SparkSession, dir: String): DataFrame = {
    val base = memoVectorStore(s, dir)
    val emb = Tables.load(s, dir, "embeddings")
    val tok = graft.operators.LateInteraction.tokenView(emb)
    maxSimStoreServe(s, base, emb.filter(col("vec_id") < 24), tok)
      .orderBy(col("qdoc"), col("rank"))
  }

  /** q172: FILTERED late interaction served from stores — the full
    * composition: multi-vector MaxSim scoring, nomination through the
    * persisted IVF index, and a metadata allow-list (even-index docs)
    * applied BEFORE the per-token rank via [[graft.operators
    * .IncrementalStore.allowFilter]] (the q167 filtered-exact
    * convention — a token's top-8 ranks only allowed candidates, so
    * selective filters can never starve the re-rank the way
    * post-filtering an unfiltered top-8 would). The re-rank is
    * restricted by construction: `cand` only ever holds allowed docs. */
  def q172MaxSimFiltered(s: SparkSession, dir: String): DataFrame = {
    val base = memoVectorStore(s, dir)
    val emb = Tables.load(s, dir, "embeddings")
    val tok = graft.operators.LateInteraction.tokenView(emb)
    val allowedVecs = emb.filter(expr("(vec_id div 8) % 2 = 0"))
      .select("vec_id")
    maxSimStoreServe(s, base, emb.filter(col("vec_id") < 24), tok,
        allowed = Some(allowedVecs))
      .orderBy(col("qdoc"), col("rank"))
  }

  /** q173: LATE-INTERACTION SERVE AFTER TAKEDOWN — the q165 capstone
    * extended to the newest serving path: a fresh vector store (fit
    * frozen on the vec_id%3=0 slice, full-corpus ingest) has every
    * token vector of the doc%7=3 documents PHYSICALLY deleted
    * ([[graft.operators.IncrementalVectors.deleteIds]], marker-committed
    * rewrites of codes + cells), then serves the q171 stack with BOTH
    * stages reading only survivors: nomination probes the post-delete
    * IVF lists, and the exact re-rank gathers token vectors FROM THE
    * STORE's cell rows (`e`/`n` inline — the store is the survivor
    * set; no raw-corpus re-read, no masking). The oracle replays
    * from-scratch-minus-docs: the frozen-model IVF pipeline with
    * deleted candidates excluded, then the re-rank — a taken-down
    * document can never be retrieved or even SCORED through the
    * late-interaction path. */
  def q173MaxSimTombstone(s: SparkSession, dir: String): DataFrame = {
    val base = s"graft_q173_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq("_cb", "_ctr", "_codes", "_cells", "_map").map(base + _)
    Warehouse.sweepOrphans(s, "graft_q173_p")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    val emb = Tables.load(s, dir, "embeddings")
    graft.Phases.timed("build") {
      graft.operators.IncrementalVectors.initModel(
        emb.filter(pmod(col("vec_id"), lit(3L)) === 0), base)
      graft.operators.IncrementalVectors.appendDate(emb, base, "d0")
    }
    graft.Phases.timed("maintain") {
      graft.operators.IncrementalVectors.deleteIds(s, base,
        emb.filter(expr("(vec_id div 8) % 7 = 3")).select("vec_id"),
        gen = "del1")
    }
    val out = graft.Phases.timed("serve") {
      val storeTok = s.table(s"${base}_cells")
        .select(expr("id div 8").as("doc"),
          pmod(col("id"), lit(8)).cast("int").as("pos"),
          col("e").as("emb"), col("n").as("nrm"))
      maxSimStoreServe(s, base, emb.filter(col("vec_id") < 24), storeTok)
        .localCheckpoint() // eager: tables dropped before the caller's action
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("qdoc"), col("rank"))
  }

  /** The q175/q176 SHARED memoized SQ8 TOKEN-CODE store: q152's build
    * (grid frozen on the vec_id % 3 = 0 slice, three per-date saturated
    * encodes over the full corpus) kept for the process — the compressed
    * token representation the PLAID serving rows re-rank from. */
  private def memoSqStore(s: SparkSession, dir: String): String = {
    val base = s"graft_q175sq_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq(s"${base}_grid", s"${base}_codes")
    Warehouse.sweepOrphans(s, "graft_q175sq_p")
    val emb = Tables.load(s, dir, "embeddings")
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    val built = tbls.forall(s.catalog.tableExists)
    if (!built) {
      tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      graft.operators.IncrementalSQ.initGrid(slice(0), base)
      (0 until 3).foreach { d =>
        graft.operators.IncrementalSQ.appendDate(slice(d), base, s"d$d")
      }
    }
    base
  }

  /** The q175/q176 PLAID serving stack — COMPRESSED END TO END: per-token
    * IVF nomination through the persisted index's centroids + cell
    * MEMBERSHIP with candidates scored from SQ8 reconstructions
    * ([[graft.operators.IncrementalVectors.ivfSearchReconstructed]] —
    * the serve never reads the cell store's float vector columns,
    * spec-asserted in LateInteractionSpec), then the exact MaxSim
    * re-rank gathered from the SAME reconstructions
    * ([[graft.operators.LateInteraction.rerankReconstructed]]) — queries
    * stay exact float at both stages. Resident serve state = centroids
    * (model-sized) + (cell, id) membership + uint8 codes: the actual
    * PLAID memory claim (4× cut on the vector payload), not just a
    * compressed re-rank behind a float nomination. */
  private def maxSimPlaidServe(s: SparkSession, dir: String): DataFrame = {
    val vecBase = memoVectorStore(s, dir)
    val sqBase = memoSqStore(s, dir)
    val emb = Tables.load(s, dir, "embeddings")
    val recon = graft.operators.SQ.reconstruct(
      s.table(s"${sqBase}_codes").select(col("id"), col("dim"), col("code")),
      s.table(s"${sqBase}_grid"))
    val nom = graft.operators.IncrementalVectors.ivfSearchReconstructed(
      s, vecBase, emb.filter(col("vec_id") < 24), recon, kNeighbors = 8)
    val cand = nom.select(expr("qid div 8").as("qdoc"),
        expr("cid div 8").as("cdoc"))
      .filter(col("qdoc") =!= col("cdoc")).distinct()
    val qtok = graft.operators.LateInteraction.tokenView(emb)
      .filter(col("doc") < 3)
    graft.operators.LateInteraction.rerankReconstructed(recon, qtok, cand)
  }

  /** q175: COMPRESSED late-interaction serving — the PLAID shape
    * (Santhanam et al., CIKM'22): q171's store-served stack with the
    * exact re-rank reading SQ8-reconstructed token vectors from the
    * persisted code store instead of float32 cells, queries staying
    * exact (the q147 asymmetric-serve convention applied to the
    * multi-vector family). This is how a late-interaction fleet actually
    * holds token-vector-scale state: uint8 codes (4× cut), re-ranking on
    * reconstructions. The oracle replays the d0-frozen grid, the
    * saturated encode, reconstruction, the per-token IVF nomination, and
    * the MaxSim ranking over reconstructions bit-for-bit. */
  def q175MaxSimPlaid(s: SparkSession, dir: String): DataFrame =
    maxSimPlaidServe(s, dir).orderBy(col("qdoc"), col("rank"))

  /** q176: PLAID recall audit — overlap@10 of the compressed re-rank
    * (q175) against the float re-rank (q171) per query doc, the q150
    * recall-audit shape applied to the late-interaction family: the
    * measured answer to "what does the 4× memory cut cost in ranking
    * fidelity on this corpus". Same nomination on both sides, so the
    * delta isolates the reconstruction error's effect on MaxSim. */
  def q176MaxSimPlaidRecall(s: SparkSession, dir: String): DataFrame = {
    val vecBase = memoVectorStore(s, dir)
    val emb = Tables.load(s, dir, "embeddings")
    val tok = graft.operators.LateInteraction.tokenView(emb)
    val exact = maxSimStoreServe(s, vecBase, emb.filter(col("vec_id") < 24),
        tok)
      .select(col("qdoc"), col("cdoc"))
    val plaid = maxSimPlaidServe(s, dir)
      .select(col("qdoc"), col("cdoc")).withColumn("m", lit(1))
    exact.join(plaid, Seq("qdoc", "cdoc"), "left")
      .groupBy(col("qdoc"))
      .agg(count(col("m")).as("n_hit"), count(lit(1)).as("n_exact"))
      .select(col("qdoc"), col("n_hit"), col("n_exact"),
        round(col("n_hit").cast("double") / col("n_exact").cast("double"), 6)
          .as("recall10"))
      .orderBy(col("qdoc"))
  }

  /** IVF cell-occupancy audit (q137) — the skew lens on the q133/q136
    * store's inverted lists: per quantizer cell, its vector count,
    * corpus fraction, and the store-wide max/mean ratio (see
    * [[graft.operators.IncrementalVectors.cellOccupancy]]). The audit
    * computes the exact rows the store's cell table holds (the frozen
    * d0-fitted quantizer's full-corpus assignment) without paying the
    * four persisted writes, so the bench number is the audit's own cost;
    * IncrementalVectorsSpec pins that [[
    * graft.operators.IncrementalVectors.cellAudit]] over a REAL store
    * reports the same rows, and that feeding its hot cells to
    * splitHotCells fixes the skew with searches bit-equal. The oracle
    * replays quantizer training, full assignment, and both ratios. */
  def q137IvfCellAudit(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val d0 = emb.filter(pmod(col("vec_id"), lit(3L)) === 0)
    val (_, ctr, release) =
      graft.operators.KMeans.fitCentroidsManaged(d0, 16, 2)
    val frozen = ctr.localCheckpoint() // 16·dim rows — bounded model state
    release()
    graft.operators.IncrementalVectors.cellOccupancy(
      graft.operators.KMeans.assign(emb, frozen)
        .select(col("cid").as("cell"), col("id")))
  }

  /** Per-date IVF cell DRIFT audit (q141) — population stability index
    * of each ingestion date's cell-occupancy distribution against the
    * init date's, under the store's frozen quantizer: q137 answers "are
    * the lists balanced NOW", this answers "is the embedding
    * distribution MOVING away from what the quantizer was trained on" —
    * the re-init trigger for a long-lived q133 store (a drifted corpus
    * concentrates new vectors into few cells, degrading the
    * ≈nProbe/nCells probe economics even when day-one occupancy was
    * flat; the standard monitoring rule of thumb reads PSI > 0.25 as
    * "retrain"). Laplace-smoothed per-cell proportions (+1 / +nCells)
    * keep empty cells finite and the statistic exact-decimal: each of
    * the ≤ nCells per-date terms (p−q)·ln(p/q) rounds to 12 and
    * decimal-sums (partition-order-proof), so the oracle replays
    * quantizer fit, full assignment, the date grid, and the PSI
    * arithmetic bit-for-bit. d0 vs d0 is identically zero by
    * construction — a non-zero d0 row means the replay itself broke.
    * Scale shape: everything past the assignment scan is
    * (nDates·nCells)-sized. */
  def q141CellDriftPsi(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val d0 = emb.filter(pmod(col("vec_id"), lit(3L)) === 0)
    val (_, ctr, release) =
      graft.operators.KMeans.fitCentroidsManaged(d0, 16, 2)
    val frozen = ctr.localCheckpoint() // 16·dim rows — bounded model state
    release()
    // (date, cell) counts — bounded at nDates·nCells rows; checkpointed
    // eagerly so the grid below derives its cell set from the SAME
    // materialized aggregate instead of re-running the assignment scan
    val counts = graft.operators.KMeans.assign(emb, frozen)
      .withColumn("dt", pmod(col("id"), lit(3L)))
      .groupBy(col("dt"), col("cid")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    // full date×cell grid (bounded: 3·16 rows) over the cells the
    // assignment actually uses, so a date's empty cell still contributes
    // its smoothed mass on both sides of the divergence
    val grid = s.range(3).select(col("id").as("dt"))
      .crossJoin(counts.select(col("cid")).distinct())
    val full = grid.join(counts, Seq("dt", "cid"), "left")
      .select(col("dt"), col("cid"), coalesce(col("n"), lit(0L)).as("n"))
    val withP = full
      .join(full.groupBy(col("dt")).agg(sum(col("n")).as("nd")), "dt")
      .select(col("dt"), col("cid"), col("nd"),
        ((col("n") + 1).cast("double") / (col("nd") + 16)).as("p"))
    val base = withP.filter(col("dt") === 0)
      .select(col("cid"), col("p").as("q"))
    withP.join(base, "cid")
      .withColumn("term",
        round((col("p") - col("q")) * log(col("p") / col("q")), 12))
      .groupBy(col("dt"))
      .agg(max(col("nd")).as("n_vectors"),
        round(sum(col("term").cast("decimal(28,12)")).cast("double"), 6)
          .as("psi"))
      .select(concat(lit("d"), col("dt")).as("ds"), col("n_vectors"),
        col("psi"))
      .orderBy(col("ds"))
  }

  /** Drift-triggered quantizer REFIT + store migration (q142) — the
    * full detect→act loop over the q133 store: build it (models frozen
    * at d0, three date appends), then refit the coarse quantizer on the
    * post-init corpus (d1 ∪ d2 — the slice a q141 PSI alarm says the
    * d0 quantizer no longer represents) and migrate every posting to
    * its new cell via the marker-committed store rewrite (see
    * [[graft.operators.IncrementalVectors.refitQuantizer]]). Output =
    * the MIGRATED store's IVF search rows; the oracle replays the new
    * fit (content-addressed seeds + Lloyd rounds on d1∪d2), the
    * full-corpus assignment, probe ranking, and cosine scoring end to
    * end — a green hash proves the refit store serves exactly the
    * from-scratch deterministic-IVF pipeline under the new quantizer,
    * i.e. migration lost nothing and re-encoded nothing it shouldn't. */
  def q142QuantizerRefit(s: SparkSession, dir: String): DataFrame = {
    val base = s"graft_q142_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    // _ctr_next: a crashed rep's staged refit must not wedge the next rep
    // (appendDate fails closed while it exists)
    val tbls = Seq(s"${base}_cb", s"${base}_ctr", s"${base}_ctr_next",
      s"${base}_codes", s"${base}_cells", s"${base}_map")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q142_p")
    val emb = Tables.load(s, dir, "embeddings")
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    graft.Phases.timed("build") {
      graft.operators.IncrementalVectors.initModel(slice(0), base)
      (0 until 3).foreach { d =>
        graft.operators.IncrementalVectors.appendDate(slice(d), base, s"d$d")
      }
    }
    graft.Phases.timed("migrate") {
      graft.operators.IncrementalVectors.refitQuantizer(s, base,
        emb.filter(pmod(col("vec_id"), lit(3L)) >= 1), gen = "refit1")
    }
    val out = graft.Phases.timed("serve") {
      graft.operators.IncrementalVectors
        .ivfSearch(s, base, emb.filter(col("vec_id") < 10))
        .localCheckpoint() // eager: the tables drop below (q133's note)
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("qid"), col("rank"))
  }

  /** AS-OF (time-travel) vector search (q144) — the date partitioning's
    * second payoff beyond incremental builds: "search the index as it
    * stood after date d" is the SAME serve plan with the `ds` predicate
    * pruned against the partition catalog — later dates' files are
    * never opened, so a reproducibility investigation ("what would this
    * query have retrieved last Tuesday?") costs a normal search, not a
    * store rebuild. Builds the q133 store (d0-frozen models, three date
    * appends), then runs BOTH searches as of d1: the candidate set is
    * exactly the d0/d1 vectors while queries and frozen models are
    * unchanged. The oracle replays both frozen-model pipelines with the
    * candidates restricted to those ingestion dates — a green hash
    * proves the as-of prune changes retrieval scope and nothing else. */
  def q144AsOfSearch(s: SparkSession, dir: String): DataFrame = {
    val base = s"graft_q144_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq(s"${base}_cb", s"${base}_ctr", s"${base}_codes",
      s"${base}_cells", s"${base}_map")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q144_p")
    val emb = Tables.load(s, dir, "embeddings")
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    graft.Phases.timed("build") {
      graft.operators.IncrementalVectors.initModel(slice(0), base)
      (0 until 3).foreach { d =>
        graft.operators.IncrementalVectors.appendDate(slice(d), base, s"d$d")
      }
    }
    val queries = emb.filter(col("vec_id") < 10)
    // the FULL-horizon serve first, timed under its own phase label: the
    // bench phases map then carries BOTH horizons side by side, so an
    // as-of prune that stops being partition-level (and silently reads
    // the whole store) shows up as serve_asof ≈ serve_full instead of
    // hiding inside the lifecycle headline. Result discarded — the
    // oracle-gated output is the as-of row below.
    graft.Phases.timed("serve_full") {
      val full = graft.operators.IncrementalVectors
        .adcSearch(s, base, queries)
        .unionAll(graft.operators.IncrementalVectors
          .ivfSearch(s, base, queries)
          .select(col("qid"), col("rank"), col("cid"),
            col("cosine").as("adist")))
        .localCheckpoint()
      graft.operators.Components.freeLocalCheckpoint(full)
    }
    val out = graft.Phases.timed("serve_asof") {
      val adc = graft.operators.IncrementalVectors
        .adcSearch(s, base, queries, upTo = Some("d1"))
        .select(lit("adc").as("method"), col("qid"), col("rank"), col("cid"),
          col("adist").as("score"))
      val ivf = graft.operators.IncrementalVectors
        .ivfSearch(s, base, queries, upTo = Some("d1"))
        .select(lit("ivf").as("method"), col("qid"), col("rank"), col("cid"),
          col("cosine").as("score"))
      adc.unionAll(ivf).localCheckpoint() // tables drop below
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("method"), col("qid"), col("rank"))
  }

  /** q161: DELETION PROPAGATION through the vector serving store — the
    * q160 takedown pass for the ANN family: the q133 store (d0-frozen
    * codebook + quantizer, three date appends over the full corpus) has
    * every vector with vec_id % 7 = 3 physically removed from BOTH
    * tables by [[graft.operators.IncrementalVectors.deleteIds]]
    * (marker-committed rewrites), then serves ADC and IVF top-3. The
    * oracle replays the frozen-model pipelines with the CANDIDATE set
    * restricted to the surviving ids (the q144 candWhere machinery) —
    * a green hash proves store-after-delete == from-scratch-minus-docs
    * at the candidate level. The frozen models keep their original fit
    * (they are artifacts, not per-doc state); refit is the separate
    * lever when the deleted vectors' influence on the models must go. */
  def q161VectorTombstone(s: SparkSession, dir: String): DataFrame = {
    val base = s"graft_q161_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq(s"${base}_cb", s"${base}_ctr", s"${base}_ctr_next",
      s"${base}_codes", s"${base}_cells", s"${base}_map")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q161_p")
    val emb = Tables.load(s, dir, "embeddings")
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    graft.Phases.timed("build") {
      graft.operators.IncrementalVectors.initModel(slice(0), base)
      (0 until 3).foreach { d =>
        graft.operators.IncrementalVectors.appendDate(slice(d), base, s"d$d")
      }
    }
    graft.Phases.timed("maintain") {
      graft.operators.IncrementalVectors.deleteIds(s, base,
        emb.filter(pmod(col("vec_id"), lit(7L)) === 3).select("vec_id"),
        gen = "del1")
    }
    val queries = emb.filter(col("vec_id") < 10)
    val out = graft.Phases.timed("serve") {
      val adc = graft.operators.IncrementalVectors
        .adcSearch(s, base, queries)
        .select(lit("adc").as("method"), col("qid"), col("rank"), col("cid"),
          col("adist").as("score"))
      val ivf = graft.operators.IncrementalVectors
        .ivfSearch(s, base, queries)
        .select(lit("ivf").as("method"), col("qid"), col("rank"), col("cid"),
          col("cosine").as("score"))
      adc.unionAll(ivf).localCheckpoint() // tables drop below
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("method"), col("qid"), col("rank"))
  }

  /** q162: DELETION PROPAGATION through the clustering store — the
    * hardest takedown, because removing a doc can SPLIT a component (it
    * may have been the only bridge between two halves): the q148 cycle
    * runs with the EDGE STORE enabled (verified pairs persisted per
    * date), then [[graft.operators.IncrementalComponents.deleteDocs]]
    * removes every doc with doc_id % 7 = 3 — signature rows dropped,
    * edges touching a tombstone dropped, components RECOMPUTED over the
    * remaining edges (edge-sized, never corpus-sized), labels rewritten,
    * repmap history cleared. The report is gated against q62's
    * recursive-closure oracle over the corpus MINUS the tombstones —
    * a green hash proves the post-delete store equals re-clustering the
    * surviving corpus from scratch, splits included. */
  def q162ComponentsTombstone(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_q162_${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode) + "_" +
      java.lang.Long.toHexString(System.nanoTime())
    Warehouse.sweepTmpOrphans("graft_q162_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    val lab = try {
      val docs = Tables.load(s, dir, "documents")
      def ingest(d: Int): Unit =
        graft.operators.IncrementalComponents.processDate(s,
          docs.filter(pmod(col("doc_id"), lit(3L)) === d), docs,
          s"$base/sigs", s"$base/labels", s"$base/repmap", s"d$d",
          edgesPath = Some(s"$base/edges"))
      graft.Phases.timed("build") { (0 until 3).foreach(ingest) }
      graft.Phases.timed("maintain") {
        graft.operators.IncrementalComponents.deleteDocs(s,
          docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id"),
          s"$base/sigs", s"$base/labels", s"$base/repmap", s"$base/edges",
          gen = "del1")
      }
      graft.Phases.timed("serve") {
        graft.operators.IncrementalComponents
          .currentLabels(s, s"$base/labels", s"$base/repmap")
          .localCheckpoint()
      }
    } finally fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val siz = lab.groupBy(col("component")).agg(count(lit(1)).as("csize"))
    val report = graft.Phases.timed("serve") {
      lab.join(siz, Seq("component"))
        .select(col("id").as("doc_id"), col("component"),
          col("csize").cast("bigint").as("component_size"),
          (col("id") === col("component")).as("is_canonical"))
        .orderBy(col("doc_id"))
        .localCheckpoint() // eager: lab can be freed before the caller reads
    }
    graft.operators.Components.freeLocalCheckpoint(lab)
    report
  }

  /** q163: DELETION PROPAGATION through the span-count store — the one
    * family where a tombstone cannot be a row drop, because (h, cnt)
    * rows carry no doc ids: the pass re-hashes the DELETED documents'
    * windows (a takedown has the document in hand) and SUBTRACTS their
    * counts in one marker-committed fold, dropping rows that reach
    * zero. Builds the q109 store over three dates on the full corpus,
    * deletes doc_id % 7 = 3, then reports the surviving docs against
    * the post-delete store. The oracle is q101's span pipeline over
    * the surviving corpus — a green hash proves the subtraction is
    * exact, INCLUDING the sign-flip case: a window duplicated only via
    * a deleted doc drops below 2 and stops reporting as dup. */
  def q163SpanTombstone(s: SparkSession, dir: String): DataFrame = {
    val base = s"/tmp/graft_q163_${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode) + "_" +
      java.lang.Long.toHexString(System.nanoTime())
    Warehouse.sweepTmpOrphans("graft_q163_")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    val store = s"$base/spans"
    val out = try {
      val docs = Tables.load(s, dir, "documents")
      graft.Phases.timed("build") {
        (0 until 3).foreach { d =>
          graft.operators.IncrementalSpans.appendCounts(
            docs.filter(pmod(col("doc_id"), lit(3L)) === d), store, s"d$d")
        }
      }
      graft.Phases.timed("maintain") {
        graft.operators.IncrementalSpans.deleteDocs(
          docs.filter(pmod(col("doc_id"), lit(7L)) === 3), store,
          gen = "del1")
      }
      graft.Phases.timed("serve") {
        graft.operators.IncrementalSpans.report(
            docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3), store)
          .localCheckpoint() // eager: the store dir is deleted below
      }
    } finally fs.delete(new org.apache.hadoop.fs.Path(base), true)
    out.orderBy(col("doc_id"))
  }

  /** q164: DELETION PROPAGATION through the SQ8 store — the scalar
    * family's q161: the q152 store (d0-frozen grid, three date appends
    * over the full corpus) has every vector with vec_id % 7 = 3
    * removed by [[graft.operators.IncrementalSQ.deleteIds]] (one
    * marker-committed rewrite of the id-bucketed code table), then the
    * asymmetric serve reads the surviving codes. The oracle replays the
    * frozen-grid encode/reconstruct chain with the STORE side
    * restricted to surviving ids while the grid keeps its original d0
    * fit — store-after-delete == from-scratch-minus-docs under the
    * frozen model, the q161 contract. */
  def q164Sq8Tombstone(s: SparkSession, dir: String): DataFrame = {
    val base = s"graft_q164_p${ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)
    val tbls = Seq(s"${base}_grid", s"${base}_grid_prev", s"${base}_codes")
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    Warehouse.sweepOrphans(s, "graft_q164_p")
    val emb = Tables.load(s, dir, "embeddings")
    def slice(d: Int) = emb.filter(pmod(col("vec_id"), lit(3L)) === d)
    graft.Phases.timed("build") {
      graft.operators.IncrementalSQ.initGrid(slice(0), base)
      (0 until 3).foreach { d =>
        graft.operators.IncrementalSQ.appendDate(slice(d), base, s"d$d")
      }
    }
    graft.Phases.timed("maintain") {
      graft.operators.IncrementalSQ.deleteIds(s, base,
        emb.filter(pmod(col("vec_id"), lit(7L)) === 3).select("vec_id"),
        gen = "del1")
    }
    val out = graft.Phases.timed("serve") {
      graft.operators.IncrementalSQ
        .search(s, base, emb.filter(col("vec_id") < 10))
        .localCheckpoint() // eager: tables dropped before the caller's action
    }
    tbls.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    out.orderBy(col("qid"), col("rank"))
  }

  /** Training-shard export manifest (q143) — the pipeline's last mile:
    * the q49 packed sequences assigned to a fixed shard count the way a
    * distributed trainer's loader consumes them. Shard assignment is a
    * pure row-local hash of the pack key (FNV of split|pack_id, mod 8)
    * — the only assignment that needs NO global coordination at 100 TB
    * (a balance-optimal greedy needs a total order over all packs; hash
    * placement converges to even shards by cardinality alone) — and the
    * manifest is the audit that the realized balance is acceptable:
    * per shard, its packs/docs/token totals plus the store-wide
    * max/mean token-balance ratio (1.0 = perfectly even). Oracle
    * replays packing, the FNV shard hash, and both aggregates. */
  def q143ShardManifest(s: SparkSession, dir: String): DataFrame = {
    val packed = graft.operators.Corpus.sequencePack(
      graft.operators.Corpus.datasetSplit(Tables.load(s, dir, "documents")),
      tokenBudget = 1024, groupCol = "split")
    val packs = packed.groupBy(col("split"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("est_tokens")).as("tokens"))
    val sharded = packs.withColumn("shard",
      pmod(graft.functions.Fnv64.fnv64(
        concat(col("split"), lit("|"), col("pack_id").cast("string"))),
        lit(8L)))
    val per = sharded.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_packs"), sum(col("n_docs")).as("n_docs"),
        sum(col("tokens")).as("total_tokens"))
    val tot = per.agg(max(col("total_tokens")).as("mx"),
      sum(col("total_tokens")).as("tt"), count(lit(1)).as("ns"))
    per.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_packs"), col("n_docs"),
        col("total_tokens"),
        round(col("mx").cast("double") * col("ns") / col("tt"), 6)
          .as("balance"))
      .orderBy(col("shard"))
  }

  /** Overlapping token-window chunking (q97): 64-token windows every 48
    * tokens (16-token overlap), partial tail kept — the RAG / long-doc
    * context-preparation step, scan-local (zero shuffles before the output
    * sort). The oracle replays tokenization, window arithmetic, slicing,
    * and the chunk-text FNV fingerprint token for token. */
  def q97Chunk(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.chunk(Tables.load(s, dir, "documents"))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Distributed k-means (q98): 8 clusters, 2 Lloyd rounds from content-
    * addressed seeds, per-cluster size + inertia — the clustering
    * primitive under semantic sharding / IVF / PQ training, with the q81
    * recipe (fixed rounds, deterministic arithmetic) making the whole fit
    * replayable by an unrolled SQL oracle. */
  def q98KMeans(s: SparkSession, dir: String): DataFrame =
    graft.operators.KMeans.summary(
        graft.operators.KMeans.fit(Tables.load(s, dir, "embeddings")))
      .select(col("cid").cast("bigint").as("cid"), col("n_points"),
        col("inertia"))
      .orderBy(col("cid"))

  /** Prototype-distance outlier flags over the q98 fit — the
    * cluster-geometry pruning signal (see
    * [[graft.operators.KMeans.distanceOutliers]]). */
  def q119DistanceOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.KMeans.distanceOutliers(
      Tables.load(s, dir, "embeddings"))

  /** Per-dimension standardization audit: L2 norms before/after
    * z-scoring every embedding dimension (see
    * [[graft.operators.Similarity.standardizeAudit]]). */
  def q124StandardizeAudit(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.standardizeAudit(
      Tables.load(s, dir, "embeddings"))

  /** k-means with FARTHEST-POINT init (q99): the maxmin seed selection —
    * the spread guarantee hash seeding lacks (Gonzalez's 2-approximation
    * k-center heuristic) — followed by one assignment round, per-cluster
    * size + inertia. Every pick is a closed-form function of the data, so
    * the oracle unrolls the entire selection sequence AND the assignment
    * in SQL. */
  def q99KMeansMaxMin(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    graft.operators.KMeans.summary(
        graft.operators.KMeans.fit(emb, k = 4, iterations = 1,
          initCentroids = Some(graft.operators.KMeans.initMaxMin(emb, 4))))
      .select(col("cid").cast("bigint").as("cid"), col("n_points"),
        col("inertia"))
      .orderBy(col("cid"))
  }

  /** The END-TO-END corpus-preparation pipeline as ONE declarative plan
    * (q100): language + quality gate → exact dedup (q48's composition) →
    * deterministic train/val/test split (q49's) → overlapping chunking
    * (q97's) → per-split corpus stats. This is the composed shape a
    * training-data system actually ships — each stage is already
    * individually oracle-gated; this gate pins that the COMPOSITION holds
    * end to end as one Catalyst-fused plan. */
  /** Repeated-span audit (q101): per document, its 8-token windows that
    * occur anywhere else in the corpus — the exact-substring dedup signal
    * doc-level near-dup cannot see (Lee et al. arXiv:2107.06499; see
    * [[graft.operators.Corpus.repeatedSpans]] for the scale shape). */
  def q101RepeatedSpans(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.repeatedSpans(Tables.load(s, dir, "documents"))

  /** Exact-substring dedup REMOVAL: mask every token covered by a
    * duplicated 8-token window and re-emit cleaned text (Lee et al.
    * arXiv:2107.06499's rewrite pass; see
    * [[graft.operators.Corpus.removeRepeatedSpans]] for the scale shape). */
  def q102RemoveRepeatedSpans(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.removeRepeatedSpans(Tables.load(s, dir, "documents"))

  /** q102's removal pass with Lee et al.'s span-LENGTH threshold: only
    * MAXIMAL duplicated runs of ≥ 16 tokens are masked (their paper cuts
    * repeated substrings ≥ 50 tokens — 16 scaled to this corpus's short
    * documents), so short boilerplate phrases survive and wholesale copies
    * are removed. Same islands arithmetic as [[q122LongestDupSpan]];
    * see [[graft.operators.Corpus.removeRepeatedSpans]]. */
  def q129RemoveLongSpans(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.removeRepeatedSpans(
      Tables.load(s, dir, "documents"), minSpanTokens = 16)

  /** Incremental span detection through the persistent window-hash COUNT
    * store: three ingestion pseudo-dates hash their own documents once
    * and append counts; the full-corpus report against the accumulated
    * store must equal from-scratch q101 (additive counts — the gate IS
    * q101's oracle). See [[graft.operators.IncrementalSpans]]. */
  def q109IncrementalSpans(s: SparkSession, dir: String): DataFrame = {
    val store = s"/tmp/graft_q109_${ProcessHandle.current().pid()}_" +
      s"${Integer.toHexString(dir.hashCode)}/spanstore"
    Warehouse.sweepTmpOrphans("graft_q109_") // crashed foreign runs
    // clean slate per (process, sf dir) — a stale store would double-count
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    val docs = Tables.load(s, dir, "documents")
    (0 until 3).foreach { d =>
      graft.operators.IncrementalSpans.appendCounts(
        docs.filter(pmod(col("doc_id"), lit(3L)) === d), store, s"d$d")
    }
    graft.operators.IncrementalSpans.report(docs, store)
  }

  /** Data-mixture selection: per source keep quality-ranked docs while the
    * running token estimate stays within the budget (see
    * [[graft.operators.Corpus.tokenBudgetMix]]). */
  def q104TokenBudgetMix(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.tokenBudgetMix(Tables.load(s, dir, "documents"))

  /** Cross-source duplication matrix: pairwise shingle-set Jaccard between
    * sources (see [[graft.operators.Corpus.sourceOverlap]]). */
  def q105SourceOverlap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.sourceOverlap(Tables.load(s, dir, "documents"))

  /** q105's millions-of-sources scale path: constant-size per-source
    * MinHash signatures, r=1 banded candidate pairing, exact verification
    * of candidates at/above jaccard 0.05 (see
    * [[graft.operators.Corpus.sourceOverlapMinhash]]). Gated against
    * q105's exact oracle + the threshold filter — a green hash certifies
    * banded recall 1.0 on this corpus. */
  def q130SourceOverlapMinhash(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.sourceOverlapMinhash(Tables.load(s, dir, "documents"))

  /** Content-defined chunking with first-occurrence dedup marks
    * (see [[graft.operators.Corpus.contentDefinedChunks]]). */
  def q117CdcChunks(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.contentDefinedChunks(
      Tables.load(s, dir, "documents"))

  /** Temperature-scaled per-source sampling weights, α = 0.3
    * (see [[graft.operators.Corpus.temperatureMix]]). */
  def q113TemperatureMix(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.temperatureMix(Tables.load(s, dir, "documents"))

  /** Decode + 2× box-filter resize of every content-derived GIF frame
    * (see [[graft.multimodal.Multimodal.resizeFrames]]). */
  def q106FrameResize(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    graft.multimodal.Multimodal.resizeFrames(
        graft.multimodal.Multimodal.withContentPayload(
          Tables.load(s, dir, "documents")))
      .toDF()
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** The full modern training-data pipeline, fused: exact-substring span
    * REMOVAL (Lee et al.) → language/quality gate + exact dedup on the
    * CLEANED text → per-source token-budget mixture selection → sequence
    * packing — one declarative plan, per-source rollup. Each stage is the
    * already-gated operator (q102 → q48 → q104 → q49) and the oracle
    * chains their replays, so the capstone gate is end-to-end parity of
    * the composition, not just the parts. */
  def q110FullPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val cleaned = graft.operators.Corpus.removeRepeatedSpans(docs)
      .select(col("doc_id"), col("clean_text"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .filter(length(trim(col("clean_text"))) > 0)
    val gated = graft.operators.Corpus.cleanFilter(cleaned, 0.5, Seq("en"),
      textCol = "clean_text")
    val mixed = graft.operators.Corpus.tokenBudgetMix(gated, budget = 500,
      textCol = "clean_text")
    val packed = graft.operators.Corpus.sequencePack(
      mixed.select("doc_id").join(cleaned, "doc_id"),
      tokenBudget = 256, groupCol = "source", textCol = "clean_text")
    packed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("pack_id")).as("n_packs"),
        sum(col("est_tokens")).as("total_tokens"))
      .orderBy(col("source"))
  }

  def q100CorpusPipeline(s: SparkSession, dir: String): DataFrame = {
    val kept = graft.operators.Corpus.datasetSplit(
      graft.operators.Corpus.cleanFilter(
        Tables.load(s, dir, "documents"), 0.6, Seq("en")))
    graft.operators.Corpus.chunk(kept)
      .join(kept.select(col("doc_id"), col("split")), "doc_id")
      .groupBy(col("split"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("split"))
  }

  /** Train→eval decontamination report: per val/test doc, the fraction of
    * its distinct word 3-grams appearing anywhere in the train split (the
    * overlap audit run before every LLM evaluation). */
  def q86Contamination(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.contamination(Tables.load(s, dir, "documents"), 0.8)
      .orderBy(col("doc_id"))

  /** q151: eval-set PURGE — the ACT to q86's contamination DETECT (the
    * decontamination step GPT-3/PaLM run before reporting evals): val/test
    * documents whose train-overlap fraction clears the q86 threshold are
    * dropped, and the report counts the purge per split. Docs too short to
    * shingle can't be contaminated and are kept (q86's absent-row
    * semantics, made explicit here by the left join's null). Scale shape:
    * q86's shingle semi-join plus one split-keyed aggregate. */
  def q151DecontaminatedEval(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val ev = graft.operators.Corpus.datasetSplit(docs)
      .filter(col("split") =!= "train").select(col("doc_id"), col("split"))
    val c = graft.operators.Corpus.contamination(docs, 0.8)
      .select(col("doc_id"), col("contaminated"))
    ev.join(c, Seq("doc_id"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_dropped"))
      .select(col("split"), col("n_docs"), col("n_dropped"),
        (col("n_docs") - col("n_dropped")).as("n_kept"),
        round(col("n_dropped").cast("double") / col("n_docs"), 6)
          .as("drop_rate"))
      .orderBy(col("split"))
  }

  /** Composed corpus-cleaning pipeline: lang gate + quality gate + exact
    * dedup, one declarative plan (oracle replays every step in SQL). */
  def q48CorpusFilter(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.cleanFilter(
        Tables.load(s, dir, "documents"), 0.6, Seq("en"))
      .select(col("doc_id"), col("pred_lang"), col("quality"))
      .orderBy(col("doc_id"))

  /** Deterministic train/val/test split + sequence packing summary. */
  def q49SequencePack(s: SparkSession, dir: String): DataFrame = {
    val packed = graft.operators.Corpus.sequencePack(
      graft.operators.Corpus.datasetSplit(Tables.load(s, dir, "documents")),
      tokenBudget = 1024, groupCol = "split")
    packed.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("pack_id")).as("n_packs"),
        sum(col("est_tokens")).as("total_tokens"))
      .orderBy(col("split"))
  }

  /** Multimodal metadata extraction: binary payload column → partition-wise
    * batched stub decode → typed metadata (oracle checks the
    * deterministic byte-derived fields). */
  def q60MultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    graft.multimodal.Multimodal.extractMeta(
        graft.multimodal.Multimodal.withPayload(Tables.load(s, dir, "documents")))
      .toDF()
      .select(col("media_id"), col("n_bytes"), col("width"), col("height"), col("n_frames"))
      .orderBy(col("media_id"))
  }

  /** Frame sampling over binary payloads (every 5th frame, per-frame
    * deterministic fingerprint = payload FNV state continued over the frame
    * index bytes). The oracle replays the whole thing — frame counts, the
    * sampling stride, and the fingerprint arithmetic — bit-exactly. */
  def q61FrameSample(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    graft.multimodal.Multimodal.sampleFrames(
        graft.multimodal.Multimodal.withPayload(Tables.load(s, dir, "documents")), 5)
      .toDF()
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Frame-level perceptual-hash image dedup over content-derived GIF
    * frames: decode pixels, rank-matrix perceptual hash per frame, exact
    * collapse then 16-bit-banded Hamming near-dup on the distinct hashes
    * (see [[graft.multimodal.Multimodal.frameDedup]] for the scale shape). */
  def q103FrameDedup(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    graft.multimodal.Multimodal.frameDedup(
      graft.multimodal.Multimodal.withContentPayload(
        Tables.load(s, dir, "documents")))
  }
}
