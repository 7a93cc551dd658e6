package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The STANDARD-STORE FAMILY REGISTRY behind [[graft.OpsMain]]: the
  * flag-named families a production deployment registers with the
  * operational triad ([[CurateJob]] / [[TakedownJob]] / [[MaintainJob]])
  * and the inventory, wired the way the oracle-gated compositions
  * (q181, q186) wire them by hand — with the safety hooks ON:
  * every curate family carries the `foldedThrough` retention fence
  * ([[StoreMaintenance.retentionHorizon]] — the max of the fold horizon
  * and the durable `_expired_through` policy record, so a marker-deleted
  * reprocess can neither double-count a folded date nor resurrect an
  * expired one), and the suppression feed is [[graft.OpsMain]]'s
  * job-level default. The fence, the date drop, the retention expiry
  * and the inventory all act on the one list of dated stores [[stores]]
  * declares per family.
  *
  * Families (the q181 trio — one lexical, one token-similarity, one
  * embedding-similarity):
  *   - `postings`: the bucketed BM25 store (`{store}_post` tf +
  *     `{store}_post_dl` norms) — fold with the additive tf merge.
  *   - `minhash`: the bucketed MinHash band store (`{store}_mh`); day
  *     report = the date's new candidate pairs as-of the date.
  *   - `semantic`: the incremental semantic near-dup store
  *     (`{store}_sem_*`); INIT-ON-DEMAND at the first append — the
  *     banding model must be frozen at a declared capacity, so the
  *     first curate run REQUIRES `--SEM_HORIZON` (a loud refusal beats
  *     a silently undersized frozen config); day report = the date's
  *     cosine pairs as-of the date; maintenance = the band-drift PSI
  *     audit, with the detect→act POLICY
  *     ([[IncrementalSemantic.maintainPolicy]]) armed by
  *     `--SEM_PSI_REBAND` (re-band at the store's current size inside
  *     the window when PSI crosses the bar AND the width law derives
  *     a new band width; level-flip migrations stay a deliberate
  *     re-init) — unarmed, the model-level folds (reband, migrate)
  *     stay deliberate operator calls.
  *   - `vectors`: the persisted ANN index ([[IncrementalVectors]] —
  *     PQ codes + IVF postings, `{store}_vec_*`); INIT-ON-DEMAND at
  *     the first append with the same declared-capacity law: the IVF
  *     quantizer freezes its cell count at init (size ≈ √(expected
  *     corpus rows) — the probe economics rest on it), so the first
  *     curate run REQUIRES `--VEC_CELLS`. Takedown = the q161 dual
  *     rewrite; maintenance = the cell-occupancy/skew + drift-PSI
  *     audit, with the detect→act POLICY
  *     ([[IncrementalVectors.maintainPolicy]]) armed by
  *     `--VEC_PSI_REFIT` (quantizer refit + store migration inside the
  *     window) and `--VEC_MAX_CELL_ROWS` (hot-cell split) — unarmed,
  *     acting stays a deliberate operator call, exactly like the
  *     semantic family's reband.
  *   - `sq8`: the persisted SQ8 index ([[IncrementalSQ]] —
  *     `{store}_sq_codes`, the frozen per-dimension grid as model
  *     state). The grid HAS no capacity hyperparameter (it is the init
  *     slice's per-dimension min/max), so init-on-demand needs no
  *     declared-capacity flag; the price of freezing is SATURATION,
  *     which the maintenance audit reports per date (the q154 signal)
  *     — [[IncrementalSQ.refitGrid]] stays the deliberate act, like
  *     the semantic reband.
  *   - `matryoshka`: the persisted two-stage prefix index
  *     ([[Matryoshka]] — `{store}_mat_cells`, prefix centroids as
  *     model state). The prefix quantizer freezes BOTH its cell count
  *     and the prefix width at init, so the first curate run REQUIRES
  *     `--MAT_CELLS` (and takes `--MAT_PDIM`, default 16); after init
  *     the width is derived FROM the persisted centroid table — a
  *     later run's mismatched flag cannot silently assign by the wrong
  *     prefix. Maintenance = the occupancy/drift audit (the vectors
  *     shape — [[IncrementalVectors.cellAudit]]/`cellDriftPsi` read
  *     any `_cells`+`_ctr` pair).
  *   - `maxsim`: the late-interaction TOKEN store — the
  *     [[IncrementalVectors]] protocol over per-token vectors
  *     (`{store}_tok_*`, q171/q173's serving substrate; `--VEC_CELLS`
  *     law applies). The registration's own semantics is TAKEDOWN: an
  *     erasure request names DOCUMENTS, the store holds TOKENS, so the
  *     delete expands each doc id to its `--TOKENS_PER_DOC` (default
  *     8, [[LateInteraction.tokenView]]'s width) token ids `doc·T …
  *     doc·T+T-1` before the q161-style dual rewrite — a taken-down
  *     document loses every token vector in one marker-committed pass.
  *
  * PATH-BACKED families (plain-parquet `ds=` stores under the required
  * `--STORE_DIR`; same fold-protocol files, so every detector and fence
  * rule applies identically):
  *   - `spans`: the incremental exact-substring count store
  *     ([[IncrementalSpans]], `{storeDir}/spans`). Counts are ADDITIVE
  *     state, so takedown SUBTRACTS the deleted documents' own window
  *     counts — it needs their TEXTS, supplied via `--CORPUS` (the
  *     retained drops catalog), and the family registers `subtractive`
  *     (arming [[TakedownJob]]'s cross-batch dedupe and ordering
  *     fences). Maintenance = the additive compact fold + optional
  *     expire retention (on a counting store, expiry IS exact
  *     unlearning of the expired dates).
  *   - `langmodel`: the incremental NB language-ID model
  *     ([[IncrementalLangModel]], `{storeDir}/langmodel/{tri,prior}`).
  *     Training state is ADDITIVE sums over labeled documents, so
  *     curation needs the label column (`--LANG_COL`, default `lang`)
  *     and takedown is EXACT UNLEARNING — it subtracts the deleted
  *     docs' own trigram counts and priors, which needs their texts
  *     AND labels from the retained drops catalog (`--CORPUS`; the
  *     family registers `subtractive`, arming [[TakedownJob]]'s
  *     cross-batch dedupe and ordering fences, and fails LOUD on an
  *     aged-out id — the spans rule). Maintenance = the additive
  *     compact folds; on a counting model retention expiry IS
  *     exact unlearning of the expired dates.
  *   - `components`: the incremental near-dup clustering store
  *     ([[IncrementalComponents]], `{storeDir}/components_{sigs,labels,
  *     repmap,edges}`), built WITH the edge store — the deletion-
  *     propagation prerequisite. Curation needs the drops catalog
  *     (`--IN`, already a curate flag) to re-read candidate ENDPOINT
  *     texts for exact verification — retain drops while this family
  *     is registered (the suppression feed's request-file rule, same
  *     reasoning). NO retention expiry: membership is a function of
  *     the edge set, so dropping old labels/edges by age would silently
  *     split components — takedown is the deletion path.
  *
  * Every closure routes through the families' own marker-committed
  * entry points, so the rewrite protocol (same-gen no-op, crash
  * resume, lease exclusion) is inherited, never re-implemented. */
object OpsFamilies {

  val Names: Seq[String] =
    Seq("postings", "minhash", "semantic", "vectors", "sq8", "matryoshka",
      "maxsim", "langmodel", "spans", "components")

  /** The path-backed families: they need `--STORE_DIR`, not `--STORE`. */
  val PathNames: Set[String] = Set("spans", "components", "langmodel")

  /** Path families need `--STORE_DIR`; everything else is table-backed. */
  private def requireDir(fam: String, storeDir: String): String = {
    require(storeDir.nonEmpty,
      s"family '$fam' is path-backed — pass --STORE_DIR <dir> (its " +
        "stores live under it as plain-parquet ds= layouts)")
    graft.split.PathOps.normalizePrefix(storeDir)
  }

  private def spansRoot(storeDir: String): String =
    requireDir("spans", storeDir) + "spans"

  private def langRoot(storeDir: String): String =
    requireDir("langmodel", storeDir) + "langmodel"

  /** (sigs, labels, repmap, edges) roots for the components family. */
  private def compRoots(storeDir: String): (String, String, String, String) = {
    val p = requireDir("components", storeDir)
    (s"${p}components_sigs", s"${p}components_labels",
      s"${p}components_repmap", s"${p}components_edges")
  }

  /** Each family's DATED stores, (inventory label, location) — the one
    * declaration the inventory (the HELD view: [[StoreInventory.dates]]
    * lists whatever exists), curation's date drop and retention fence
    * and maintenance's expiry all derive from, so they cannot disagree.
    * Model state without `ds` partitions (the semantic `_cfg`, the
    * vector codebook/centroids, the sq grid, the matryoshka centroids,
    * the components repmap versions) is deliberately absent. An unknown
    * name fails here for every registration. */
  def stores(store: String, storeDir: String,
      fam: String): Seq[StoreInventory.Entry] = {
    def tables(ts: (String, String)*) = {
      require(store.nonEmpty,
        s"family '$fam' is table-backed — pass --STORE <table-name prefix>")
      ts.map { case (label, suffix) =>
        StoreInventory.Entry(s"${fam}_$label", TableLoc(s"${store}_$suffix"))
      }
    }
    def paths(ps: (String, String)*) = ps.map { case (label, dir) =>
      StoreInventory.Entry(s"${fam}_$label", PathLoc(dir))
    }
    fam match {
      case "postings" => tables("tf" -> "post", "norms" -> "post_dl")
      case "minhash" => tables("bands" -> "mh")
      case "semantic" => tables("bands" -> "sem_bands", "vecs" -> "sem_vecs",
        "occ" -> "sem_occ")
      case "vectors" => tables("codes" -> "vec_codes", "cells" -> "vec_cells")
      case "sq8" => tables("codes" -> "sq_codes")
      case "matryoshka" => tables("cells" -> "mat_cells")
      case "maxsim" => tables("codes" -> "tok_codes", "cells" -> "tok_cells")
      case "langmodel" =>
        val root = langRoot(storeDir)
        paths("tri" -> s"$root/tri", "prior" -> s"$root/prior")
      case "spans" => paths("counts" -> spansRoot(storeDir))
      case "components" =>
        val (sigs, labels, _, edges) = compRoots(storeDir)
        paths("sigs" -> sigs, "labels" -> labels, "edges" -> edges)
      case other => throw new IllegalArgumentException(
        s"unknown family '$other' — registered: ${Names.mkString(", ")}")
    }
  }

  /** The subset of [[stores]] whose per-date partition PRESENCE is
    * implied by a committed curate marker — what the lag detectors may
    * judge. Components' labels/edges stores legitimately skip dates (a
    * date with no new clusters writes neither), so only the signature
    * store is ledger-judgeable there; the spans count store skips a
    * date only when EVERY document is shorter than the window width,
    * and the langmodel stores only when the date's 50% content-
    * addressed train split is empty (documented edges — such a date
    * would false-flag). */
  def ledgerStores(store: String, storeDir: String,
      fam: String): Seq[StoreInventory.Entry] =
    stores(store, storeDir, fam)
      .filter(e => fam != "components" || e.family == s"${fam}_sigs")

  /** One structured line per policy decision (O17); every field is
    * quoted, so a window label holding a `"` still prints valid JSON. */
  private[operators] def policyEvent(event: String, store: String,
      window: String, action: String): String = {
    val q = graft.split.Marker.quote _
    s"""{"event":${q(event)},"store":${q(store)},""" +
      s""""window":${q(window)},"action":${q(action)}}"""
  }

  /** Curate registration. `idCol`/`textCol`/`vecCol`/`langCol` name the
    * input drop's columns; `pairThreshold`/`semThreshold` gate the day
    * reports (for components, `pairThreshold` is the exact-verify
    * Jaccard bar); `semHorizon` is the semantic model's frozen capacity,
    * `vecCells` the vector/maxsim index's frozen IVF cell count, and
    * `matCells`/`matPDim` the matryoshka quantizer's frozen cell count
    * and prefix width (each required before its store exists, ignored —
    * or, for the prefix width, derived from the model — after);
    * `storeDir` roots the path families; `inDir` is the drops catalog
    * the components family re-reads endpoint texts from. */
  def curate(store: String, fam: String, idCol: String, textCol: String,
      vecCol: String, pairThreshold: Double, semThreshold: Double,
      semHorizon: Long, vecCells: Int = 0, storeDir: String = "",
      inDir: String = "", matCells: Int = 0, matPDim: Int = 16,
      langCol: String = "lang"): CurateFamily = {
    val locs = stores(store, storeDir, fam).map(_.store)
    // the drop and the fence cover the same stores, so a folded or
    // expired date of any store the drop would touch refuses to re-append
    def family(append: (DataFrame, String) => Unit,
        report: Option[(SparkSession, String) => DataFrame] = None,
        exists: Option[SparkSession => Boolean] = None,
        dropModel: (SparkSession, String) => Unit = (_, _) => ()) =
      CurateFamily(fam, append,
        drop = (sp, d) => {
          IncrementalStore.dropDate(sp, locs, d)
          dropModel(sp, d)
        },
        report = report,
        foldedThrough = Some(sp => StoreMaintenance.retentionHorizon(sp, locs)),
        exists = exists)
    fam match {
      case "postings" => family((slice, d) => {
        val docs = slice.select(col(idCol).as("doc_id"),
          col(textCol).as("text"))
        IncrementalPostings.appendCountsBucketed(docs, s"${store}_post", d)
        IncrementalPostings.appendNorms(docs, s"${store}_post", d)
      })
      case "minhash" => family(
        (slice, d) => IncrementalDedup.appendBandsBucketed(
          slice.select(col(idCol).as("doc_id"), col(textCol).as("text")),
          s"${store}_mh", d),
        report = Some((sp, d) => IncrementalDedup.newPairsBucketed(
          sp, s"${store}_mh", d, pairThreshold, upTo = Some(d))),
        // empty-first-date guard: the day report scans the band table,
        // which only an append creates (CurateFamily.exists contract)
        exists = Some(sp => sp.catalog.tableExists(s"${store}_mh")))
      case "semantic" => family(
        (slice, d) => {
          val sp = slice.sparkSession
          val emb = slice.select(col(idCol).as("vec_id"), col(vecCol))
          if (!sp.catalog.tableExists(s"${store}_sem_cfg")) {
            require(semHorizon > 0,
              "the semantic store is uninitialized and SEM_HORIZON is " +
                "unset — the banding model freezes its width/levels at a " +
                "declared row capacity (the engagement law); pass " +
                "--SEM_HORIZON <expected corpus rows> on the first run")
            IncrementalSemantic.initModel(emb, s"${store}_sem", semHorizon,
              vecCol = vecCol)
          }
          IncrementalSemantic.appendDate(emb, s"${store}_sem", d,
            vecCol = vecCol)
        },
        report = Some((sp, d) => IncrementalSemantic.newPairs(
          sp, s"${store}_sem", d, semThreshold, upTo = Some(d))),
        // empty-first-date guard: the pair report scans bands+vecs, which
        // only an append creates (initModel writes just the _cfg table)
        exists = Some(sp => sp.catalog.tableExists(s"${store}_sem_bands") &&
          sp.catalog.tableExists(s"${store}_sem_vecs")))
      case "vectors" => family((slice, d) => {
        val sp = slice.sparkSession
        val emb = slice.select(col(idCol).as("vec_id"), col(vecCol))
        if (!sp.catalog.tableExists(s"${store}_vec_cb")) {
          require(vecCells > 0,
            "the vector store is uninitialized and VEC_CELLS is unset — " +
              "the IVF coarse quantizer freezes its cell count at init " +
              "and the ≈nProbe/nCells probe economics rest on it (size " +
              "≈ √(expected corpus rows)); pass --VEC_CELLS on the " +
              "first run")
          IncrementalVectors.initModel(emb, s"${store}_vec",
            nCells = vecCells, vecCol = vecCol)
        }
        IncrementalVectors.appendDate(emb, s"${store}_vec", d,
          vecCol = vecCol)
      })
      case "sq8" => family((slice, d) => {
        val sp = slice.sparkSession
        val emb = slice.select(col(idCol).as("vec_id"), col(vecCol))
        // init-on-demand WITHOUT a capacity flag: the grid is the init
        // slice's per-dimension min/max — no size hyperparameter to
        // declare. The frozen-grid price is saturation, reported per
        // date by the maintenance audit; refitGrid is the deliberate act.
        if (!sp.catalog.tableExists(s"${store}_sq_grid"))
          IncrementalSQ.initGrid(emb, s"${store}_sq", vecCol = vecCol)
        IncrementalSQ.appendDate(emb, s"${store}_sq", d, vecCol = vecCol)
      })
      case "matryoshka" => family((slice, d) => {
        val sp = slice.sparkSession
        val emb = slice.select(col(idCol).as("vec_id"), col(vecCol))
        if (!sp.catalog.tableExists(s"${store}_mat_ctr")) {
          require(matCells > 0,
            "the matryoshka store is uninitialized and MAT_CELLS is " +
              "unset — the prefix quantizer freezes its cell count AND " +
              "prefix width at init (stage-1 arithmetic and probe " +
              "economics rest on them); pass --MAT_CELLS (and optionally " +
              "--MAT_PDIM, default 16) on the first run")
          Matryoshka.initModel(emb, s"${store}_mat", pDim = matPDim,
            nCells = matCells, vecCol = vecCol)
        }
        // the frozen prefix width comes FROM the model (centroid rows
        // are (cid, dim, c) — width = max dim + 1): a later run's
        // mismatched --MAT_PDIM must not silently assign by the wrong
        // prefix. Bounded metadata read (one int).
        val pd = sp.table(s"${store}_mat_ctr")
          .agg(max(col("dim"))).collect()(0).getInt(0) + 1
        Matryoshka.appendDate(emb, s"${store}_mat", d, pDim = pd,
          vecCol = vecCol)
      })
      case "maxsim" => family((slice, d) => {
        val sp = slice.sparkSession
        val emb = slice.select(col(idCol).as("vec_id"), col(vecCol))
        if (!sp.catalog.tableExists(s"${store}_tok_cb")) {
          require(vecCells > 0,
            "the maxsim token store is uninitialized and VEC_CELLS is " +
              "unset — it is an IncrementalVectors store over TOKEN " +
              "vectors and the same frozen-capacity law applies; pass " +
              "--VEC_CELLS on the first run")
          IncrementalVectors.initModel(emb, s"${store}_tok",
            nCells = vecCells, vecCol = vecCol)
        }
        IncrementalVectors.appendDate(emb, s"${store}_tok", d,
          vecCol = vecCol)
      })
      case "langmodel" => family((slice, d) =>
        IncrementalLangModel.appendCounts(
          slice.select(col(idCol).as("doc_id"), col(langCol).as("lang"),
            col(textCol).as("text")), langRoot(storeDir), d))
      case "spans" => family((slice, d) =>
        IncrementalSpans.appendCounts(
          slice.select(col(idCol).as("doc_id"), col(textCol).as("text")),
          spansRoot(storeDir), d))
      case "components" =>
        val (sigs, labels, repmap, edges) = compRoots(storeDir)
        require(inDir.nonEmpty,
          "the components family re-reads candidate ENDPOINT texts for " +
            "exact verification — wire the drops catalog (--IN)")
        family(
          (slice, d) => {
            val sp = slice.sparkSession
            val newDocs = slice.select(col(idCol).as("doc_id"),
              col(textCol).as("text"))
            // the accumulated corpus, from the retained drops catalog
            // (flat listing, one multi-path scan — the feed's read shape);
            // only candidate ENDPOINTS are actually re-read (semi-join
            // before shingling, processDate's contract), and a superset
            // (staged future dates, suppressed ids) is harmless — their
            // signatures are not in the store, so they never match a band
            val drops = new graft.split.MarkerLedger(
              sp.sparkContext.hadoopConfiguration).catalog(inDir)
            val allDocs = sp.read.parquet(drops: _*)
              .select(col(idCol).as("doc_id"), col(textCol).as("text"))
            IncrementalComponents.processDate(sp, newDocs, allDocs,
              sigs, labels, repmap, d, threshold = pairThreshold,
              edgesPath = Some(edges))
          },
          dropModel = (sp, d) =>
            IncrementalComponents.dropRepmapVersion(sp, repmap, d))
    }
  }

  /** Takedown registration. The table families are id-keyed (anti-join
    * deletes, not `subtractive`); `maxsim` requests name DOCUMENTS and
    * the store holds TOKENS, so each doc id expands to its
    * `tokensPerDoc` token ids before the id-keyed rewrite; `spans`
    * SUBTRACTS the deleted documents' own window counts, so it needs
    * their texts (`corpus` — the retained drops catalog, `--CORPUS`)
    * and registers `subtractive` (arming [[TakedownJob]]'s cross-batch
    * dedupe and ordering fences); `langmodel` likewise subtracts —
    * exact unlearning needs the deleted docs' texts AND labels, so its
    * corpus carries a third column (`--LANG_COL`); `components`
    * recomputes membership over the surviving edges (requires the edge
    * store the curate registration always builds). */
  def takedown(spark: SparkSession, store: String, fam: String,
      storeDir: String = "", corpus: Option[DataFrame] = None,
      tokensPerDoc: Int = 8): TakedownFamily = {
    stores(store, storeDir, fam) // the name check (and STORE/STORE_DIR)
    fam match {
      case "postings" => TakedownFamily(fam, (ids, gen) =>
        IncrementalPostings.deleteDocs(spark, s"${store}_post", ids, gen))
      case "minhash" => TakedownFamily(fam, (ids, gen) =>
        IncrementalDedup.deleteDocs(spark, s"${store}_mh", ids, gen))
      case "semantic" => TakedownFamily(fam, (ids, gen) =>
        IncrementalSemantic.deleteIds(spark, s"${store}_sem", ids, gen))
      case "vectors" => TakedownFamily(fam, (ids, gen) =>
        IncrementalVectors.deleteIds(spark, s"${store}_vec", ids, gen))
      case "sq8" => TakedownFamily(fam, (ids, gen) =>
        IncrementalSQ.deleteIds(spark, s"${store}_sq", ids, gen))
      case "matryoshka" => TakedownFamily(fam, (ids, gen) =>
        Matryoshka.deleteIds(spark, s"${store}_mat", ids, gen))
      case "maxsim" => TakedownFamily(fam, (ids, gen) => {
        // the doc→token expansion: request ids are DOCUMENT ids, the
        // store's rows are TOKEN ids doc·T … doc·T+T-1 (tokenView's
        // layout) — erasing the doc means every token vector goes in the
        // same marker-committed rewrite. List-sized expansion (T rows per
        // requested id), never corpus-sized.
        val tok = ids.select(explode(sequence(
          col("id").cast("long") * tokensPerDoc,
          col("id").cast("long") * tokensPerDoc + (tokensPerDoc - 1)))
          .as("id"))
        IncrementalVectors.deleteIds(spark, s"${store}_tok", tok, gen)
      })
      case "langmodel" =>
        val root = langRoot(storeDir)
        require(corpus.isDefined,
          "the NB model is additive — unlearning subtracts the deleted " +
            "documents' own trigram counts and priors, which requires " +
            "their TEXTS and LABELS: pass --CORPUS <drops catalog> " +
            "(columns ID_COL, TEXT_COL, LANG_COL)")
        TakedownFamily(fam, (ids, gen) => {
          val cols = corpus.get.columns
          require(cols.length >= 3,
            "the langmodel corpus needs three columns (id, text, lang) — " +
              s"got ${cols.mkString(", ")}")
          val deleted = corpus.get
            .join(ids.select(col("id").as(cols(0))), Seq(cols(0)), "left_semi")
          // FAIL LOUD on an id whose text aged out of the catalog: a
          // silent miss would under-subtract and leave the erased doc's
          // influence in the model forever (the spans takedown rule).
          // List-sized counts.
          val got = deleted.select(col(cols(0))).distinct().count()
          val want = ids.count()
          require(got == want,
            s"langmodel takedown: only $got of $want requested ids have " +
              "texts in the corpus catalog — restore the aged-out drops " +
              "(exact unlearning needs the documents themselves)")
          IncrementalLangModel.deleteDocs(
            deleted.select(col(cols(0)).as("doc_id"),
              col(cols(2)).as("lang"), col(cols(1)).as("text")),
            root, gen)
        }, subtractive = true)
      case "spans" =>
        val st = spansRoot(storeDir)
        require(corpus.isDefined,
          "the span store is additive — deletion subtracts the deleted " +
            "documents' own window counts, which requires their TEXTS: " +
            "pass --CORPUS <drops catalog>")
        TakedownFamily(fam, (ids, gen) => {
          val deleted = corpus.get
            .join(ids.select(col("id").as(corpus.get.columns.head)),
              Seq(corpus.get.columns.head), "left_semi")
          // FAIL LOUD on an id whose text aged out of the catalog: a
          // silent miss would under-subtract and leave the erased doc's
          // counts in the store forever (the suppression feed's
          // source-of-truth rule). List-sized counts.
          val got = deleted.select(col(corpus.get.columns.head))
            .distinct().count()
          val want = ids.count()
          require(got == want,
            s"spans takedown: only $got of $want requested ids have texts " +
              "in the corpus catalog — restore the aged-out drops (exact " +
              "count subtraction needs the documents themselves)")
          IncrementalSpans.deleteDocs(
            deleted.select(col(corpus.get.columns.head).as("doc_id"),
              col(corpus.get.columns(1)).as("text")), st, gen)
        }, subtractive = true)
      case "components" =>
        val (sigs, labels, repmap, edges) = compRoots(storeDir)
        TakedownFamily(fam, (ids, gen) => IncrementalComponents.deleteDocs(
          spark, ids, sigs, labels, repmap, edges, gen))
    }
  }

  /** Maintenance registration. `retainTo(window)` is the optional
    * retention policy cutoff ([[MaintainFamily.expire]] — run AFTER
    * the folds, the aligned-horizons ordering). */
  def maintain(store: String, fam: String,
      retainTo: Option[String => String],
      vecMaxCellRows: Option[Long] = None,
      vecPsiRefit: Option[Double] = None,
      storeDir: String = "",
      semPsiReband: Option[Double] = None): MaintainFamily = {
    val locs = stores(store, storeDir, fam).map(_.store)
    // retention expires every dated store of the family at one cutoff
    val expire = retainTo.map(cut => (sp: SparkSession, w: String) => {
      val rs = locs.filter(_.exists(sp))
        .map(s => StoreMaintenance.expire(sp, s, cut(w)))
      StoreMaintenance.ExpireResult(
        rs.flatMap(_.dropped).distinct.sorted,
        rs.flatMap(_.retained).distinct.sorted)
    })
    fam match {
      case "postings" => MaintainFamily(fam,
        maintain = (sp, w) => {
          StoreMaintenance.compact(sp, TableLoc(s"${store}_post"), w,
            merge = _.groupBy("term", "doc_id").agg(sum(col("tf")).as("tf")))
          IncrementalPostings.compactNorms(sp, s"${store}_post", w)
        },
        expire = expire,
        audit = Some((sp, _) => sp.table(s"${store}_post")
          .agg(countDistinct(col("term")).as("n_terms"),
            countDistinct(col("doc_id")).as("n_docs"))))
      case "minhash" => MaintainFamily(fam,
        maintain = (sp, w) =>
          StoreMaintenance.compact(sp, TableLoc(s"${store}_mh"), w),
        expire = expire)
      case "semantic" => MaintainFamily(fam,
        // the banding family's detect→act POLICY
        // ([[IncrementalSemantic.maintainPolicy]]) armed by
        // `--SEM_PSI_REBAND`: PSI over the bar AND an outgrown width
        // law → rebandStore inside the window (lease-fenced,
        // marker-committed, window-unique gen, unconditional same-gen
        // resume). Unarmed, model-level folds (reband, migrate) stay
        // deliberate and the window contributes only the drift audit.
        maintain = (sp, w) => {
          val acts = IncrementalSemantic.maintainPolicy(sp,
            s"${store}_sem", w, psiReband = semPsiReband)
          acts.foreach(a =>
            println(policyEvent("sem_policy", s"${store}_sem", w, a)))
        },
        expire = expire,
        audit = Some((sp, _) => {
          // baseline: IncrementalStore.driftBaseline over the occupancy
          // table's labels. No auditable state at all — store
          // uninitialized, expiry emptied it, rewrite uncommitted — yields
          // an EMPTY, correctly-shaped report: an audit describes the
          // store, it must never wedge the window it reports on.
          val occ = s"${store}_sem_occ"
          val parts = if (sp.catalog.tableExists(occ))
            TableLoc(occ).partitions(sp)
          else Seq.empty[String]
          IncrementalStore.driftBaseline(parts)
            .fold(sp.sql("SELECT CAST('' AS STRING) AS ds, " +
              "CAST(0 AS INT) AS level, CAST(0 AS BIGINT) AS n_rows, " +
              "CAST(0.0 AS DOUBLE) AS psi").limit(0))(init =>
              IncrementalSemantic.bandDriftPsiLevels(sp, s"${store}_sem",
                init))
        }))
      case "vectors" =>
        vectorStyleMaintain(fam, s"${store}_vec", expire,
          vecMaxCellRows, vecPsiRefit)
      case "maxsim" =>
        // the token store IS an IncrementalVectors store — the same
        // occupancy/drift audit and the same detect→act policy apply
        // (armed by the shared --VEC_* flags; a deployment registering
        // both vectors AND maxsim arms both stores' policies, each
        // acting on its own base)
        vectorStyleMaintain(fam, s"${store}_tok", expire,
          vecMaxCellRows, vecPsiRefit)
      case "sq8" => MaintainFamily(fam,
        // codes are disjoint per-id state: the fold is a pure re-bin
        // (q156's law). The grid refit stays the DELIBERATE act — and
        // unlike vectors/semantic, no --SQ_PSI_REFIT policy can exist
        // self-contained: this store holds CODES ONLY (no inline float
        // vectors), so a windowed refit could only fit the new grid on
        // old-grid reconstructions, which lie inside the old span by
        // construction — the policy could never WIDEN the grid, and
        // widening is exactly what the saturation drift it would react
        // to requires. Acting needs the corpus; the audit detects, the
        // operator refits (refitGrid) or re-inits at curate time.
        maintain = (sp, w) =>
          StoreMaintenance.compact(sp, TableLoc(s"${store}_sq_codes"), w),
        expire = expire,
        audit = Some((sp, _) => {
          // the scalar family's drift signal served from the store's
          // own rows: per-partition code count + SATURATION fraction
          // (codes at the 0/255 clamp edges — how grid drift manifests
          // in a frozen scalar quantizer, the q154 statistic). One
          // count-only grouped scan; empty-but-shaped when
          // uninitialized (audit-never-wedge).
          val codes = s"${store}_sq_codes"
          if (!sp.catalog.tableExists(codes))
            sp.sql("SELECT CAST('' AS STRING) AS ds, " +
              "CAST(0 AS BIGINT) AS n_codes, " +
              "CAST(0.0 AS DOUBLE) AS sat_frac").limit(0)
          else StoreMaintenance.consistentScan(sp, TableLoc(codes))
            .groupBy(col("ds"))
            .agg(count(lit(1)).as("n_codes"),
              round(sum(when(col("code") === 0 || col("code") === 255,
                  lit(1L)).otherwise(lit(0L))).cast("double") /
                count(lit(1)), 6).as("sat_frac"))
        }))
      case "matryoshka" => MaintainFamily(fam,
        // cell rows are disjoint per-id state — pure re-bin fold; the
        // prefix quantizer is frozen model state (re-init = new store)
        maintain = (sp, w) =>
          StoreMaintenance.compact(sp, TableLoc(s"${store}_mat_cells"), w),
        expire = expire,
        audit = Some((sp, _) => cellStoreAudit(sp, s"${store}_mat")))
      case "langmodel" =>
        val root = langRoot(storeDir)
        val Seq(tri, prior) = locs
        MaintainFamily(fam,
          // the additive folds: trigram counts sum per (cand, tri),
          // priors per cand — the compacted model scores bit-equal
          maintain = (sp, w) => {
            StoreMaintenance.compact(sp, tri, w,
              merge = _.groupBy(col("cand"), col("tri"))
                .agg(sum(col("c")).as("c")))
            StoreMaintenance.compact(sp, prior, w,
              merge = _.groupBy(col("cand")).agg(sum(col("ndl")).as("ndl")))
          },
          // on a counting model retention expiry IS exact unlearning of
          // the expired dates (additive state minus their partitions)
          expire = expire,
          audit = Some((sp, _) => {
            // model shape: candidate languages, vocabulary, training
            // docs — the derived quantities scoring rebuilds from sums.
            // Vocabulary-bounded aggregates; zeros when uningested.
            if (!tri.exists(sp))
              sp.sql("SELECT CAST(0 AS BIGINT) AS n_langs, " +
                "CAST(0 AS BIGINT) AS vocab, " +
                "CAST(0 AS BIGINT) AS n_train_docs")
            else {
              val (model, priors) = IncrementalLangModel.model(sp, root)
              priors.agg(count(lit(1)).as("n_langs"),
                  sum(col("ndl")).cast("bigint").as("n_train_docs"))
                .crossJoin(broadcast(model.agg(
                  countDistinct(col("tri")).as("vocab"))))
                .select(col("n_langs"), col("vocab"), col("n_train_docs"))
            }
          }))
      case "spans" =>
        val st = PathLoc(spansRoot(storeDir))
        MaintainFamily(fam,
          // the additive fold: per-hash counts sum across dates, so the
          // compacted store serves every report bit-equal (q109's law)
          maintain = (sp, w) => StoreMaintenance.compact(sp, st, w,
            merge = _.groupBy(col("h")).agg(sum(col("cnt")).as("cnt"))),
          // on a counting store expiry IS exact unlearning of the
          // expired dates (additive state minus a date's partition)
          expire = expire,
          audit = Some((sp, _) => {
            // audit-never-wedge: an uningested store reads as zeros
            if (!st.exists(sp))
              sp.sql("SELECT CAST(0 AS BIGINT) AS n_hashes, " +
                "CAST(0 AS BIGINT) AS n_dup")
            else StoreMaintenance.consistentScan(sp, st)
              .groupBy(col("h")).agg(sum(col("cnt")).as("total"))
              .agg(count(lit(1)).as("n_hashes"),
                sum(when(col("total") >= 2, 1L).otherwise(0L))
                  .cast("bigint").as("n_dup"))
          }))
      case "components" =>
        val (sigs, labels, repmap, _) = compRoots(storeDir)
        MaintainFamily(fam,
          // label rows are write-once disjoint state: the fold is a pure
          // re-bin (q149's law); superseded repmap versions prune freely
          // (each version is self-contained). NO retention expiry —
          // membership is a function of the edge set, an age-based drop
          // would silently split components (takedown deletes instead).
          maintain = (sp, w) => {
            IncrementalComponents.compactLabels(sp, labels, w)
            IncrementalComponents.pruneRepmapVersions(sp, repmap)
          },
          audit = Some((sp, _) => {
            // audit-never-wedge: an uningested store reads as zeros
            val sigN = if (PathLoc(sigs).exists(sp))
              StoreMaintenance.consistentScan(sp, PathLoc(sigs))
                .agg(count(lit(1)).as("n_sig_docs"))
            else sp.sql("SELECT CAST(0 AS BIGINT) AS n_sig_docs")
            IncrementalComponents.currentLabels(sp, labels, repmap)
              .agg(count(lit(1)).as("n_clustered"),
                countDistinct(col("component")).as("n_components"))
              .crossJoin(broadcast(sigN))
          }))
    }
  }

  /** The occupancy/drift audit any `_cells`+`_ctr` store pair serves —
    * one frame, two sections: per-cell occupancy/skew ("occ") and
    * per-date drift PSI ("psi") as (kind, key, n_rows, value).
    * Empty-but-shaped on an uninitialized store (the semantic audit's
    * never-wedge rule). */
  private def cellStoreAudit(sp: SparkSession, base: String): DataFrame = {
    val empty = sp.sql("SELECT CAST('' AS STRING) AS kind, " +
      "CAST('' AS STRING) AS key, CAST(0 AS BIGINT) AS n_rows, " +
      "CAST(0.0 AS DOUBLE) AS value").limit(0)
    if (!sp.catalog.tableExists(s"${base}_cells")) empty
    else IncrementalVectors.cellAudit(sp, base)
      .select(lit("occ").as("kind"),
        col("cell").cast("string").as("key"),
        col("n_vectors").as("n_rows"), col("skew").as("value"))
      .unionAll(IncrementalVectors.cellDriftPsi(sp, base)
        .select(lit("psi").as("kind"), col("ds").as("key"),
          col("n_vectors").as("n_rows"), col("psi").as("value")))
  }

  /** The [[IncrementalVectors]]-backed maintenance shape shared by the
    * `vectors` and `maxsim` registrations: the detect→act POLICY
    * ([[IncrementalVectors.maintainPolicy]]) — unarmed (both thresholds
    * None) it is a no-op and acting stays a deliberate call; armed, the
    * refit/split rewrites run INSIDE the window, lease-fenced and
    * marker-committed by the acts' own protocols, window-unique gens,
    * crash-resume pinned in OpsMainSpec — plus the occupancy/drift
    * audit. O17: the policy's ACTS are store mutations — one structured
    * line each, so the window's log says what fired and why. */
  private def vectorStyleMaintain(fam: String, base: String,
      expire: Option[(SparkSession, String) => StoreMaintenance.ExpireResult],
      vecMaxCellRows: Option[Long],
      vecPsiRefit: Option[Double]): MaintainFamily = MaintainFamily(fam,
    maintain = (sp, w) => {
      val acts = IncrementalVectors.maintainPolicy(sp, base, w,
        maxCellRows = vecMaxCellRows, psiRefit = vecPsiRefit)
      acts.foreach(a => println(policyEvent("vec_policy", base, w, a)))
    },
    expire = expire,
    audit = Some((sp, _) => cellStoreAudit(sp, base)))
}
