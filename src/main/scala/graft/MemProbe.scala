package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Dev tool: BOUNDED-MEMORY flagship probe — the spill-evidence half of
  * the 100 TB claim. [[ScaleProbe]] shows wall-clock growth in a 128 GiB
  * sandbox that never spills; this runs the flagship operators on the
  * same 10× tables under a deliberately small memory ceiling (small heap
  * via SPARK_DRIVER_MEM + `spark.memory.fraction` cut via
  * SPARK_GRAFT_MEM_FRACTION, default 0.2) and records, per query, the
  * executor-reported spill counters. The pass criterion is NOT speed: it
  * is that every aggregate/join/sort degrades to disk
  * (memory/diskBytesSpilled > 0 where the plan has a blocking operator)
  * and the query still completes with zero task failures — i.e. no
  * operator holds unbounded per-task state.
  *
  * Usage: SPARK_DRIVER_MEM=4g SPARK_GRAFT_SCALE=10 runMain graft.MemProbe
  */
object MemProbe {
  def main(args: Array[String]): Unit = {
    val frac = sys.env.getOrElse("SPARK_GRAFT_MEM_FRACTION", "0.2")
    // the squeeze: unified execution+storage pool cut from 0.6 of
    // (heap - 300MB) to `frac` — with a 4g heap and SPARK_GRAFT_CPUS=32
    // this is ~20-25 MB of execution memory per task slot
    Session.run("graft-memprobe", Map("spark.memory.fraction" -> frac))(
      probe(_, frac, args))
  }

  private def probe(spark: SparkSession, frac: String, args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val big = ScaleProbe.ensureScaledTables(spark, n,
      sys.env.get("SPARK_GRAFT_SCALE_TABLES")
        .map(_.split(",").map(_.trim).toSet))

    // per-query spill/peak counters from the executor task metrics — the
    // same numbers the Spark UI's "Spill (memory/disk)" columns show
    object metrics extends SparkListener {
      @volatile var memSpilled = 0L
      @volatile var diskSpilled = 0L
      @volatile var peakExecMem = 0L
      @volatile var failedTasks = 0
      def reset(): Unit = { memSpilled = 0; diskSpilled = 0; peakExecMem = 0; failedTasks = 0 }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
        if (t.taskMetrics != null) {
          memSpilled += t.taskMetrics.memoryBytesSpilled
          diskSpilled += t.taskMetrics.diskBytesSpilled
          peakExecMem = math.max(peakExecMem, t.taskMetrics.peakExecutionMemory)
        }
        if (!t.reason.toString.startsWith("Success")) failedTasks += 1
      }
    }
    spark.sparkContext.addSparkListener(metrics)

    val flagships = Seq("q93_neardup_banded", "q95_semantic_dedup",
      "q96_pq_adc", "q98_kmeans", "q101_repeated_spans",
      "q102_remove_repeated_spans", "q103_frame_dedup",
      "q109_incremental_spans", "q110_full_pipeline",
      "q115_survivor_selection", "q116_collocations", "q117_cdc_chunks",
      "q120_incremental_postings", "q121_triangle_stats",
      // round-9 flagships: recall audit (4 index pipelines + sampled
      // k-means fit), bucketed postings cycle, span-length removal,
      // source-overlap MinHash, trained-tokenizer encode
      "q127_recall_audit", "q128_postings_bucketed",
      "q129_remove_long_spans", "q130_source_overlap_minhash",
      "q131_bpe_encode",
      // round-10 flagships: the persisted vector-store lifecycle and the
      // trigram NB language-ID train+score pass
      "q133_vector_store", "q134_lang_id_nb",
      // round-11 flagships: compaction-in-the-middle postings cycle,
      // serve-only vector search, fused lang-ID→perplexity chain, and
      // the split-leakage audit (label propagation under the ceiling)
      "q135_postings_compacted", "q136_vector_serve", "q139_ccnet_pipeline",
      "q140_split_leakage",
      // round-11 fourth wave: whole-store migration under the ceiling,
      // and the incremental NB model cycle
      "q142_quantizer_refit", "q145_incremental_lang_model",
      // round-11 fifth wave: cluster-atomic split (propagation + two
      // joins under the ceiling) and the incremental clustering cycle
      "q146_cluster_atomic_split", "q148_incremental_components",
      // round-12: the compaction-in-the-middle clustering cycle, the
      // shingle-keyed eval purge, and the incremental SQ8 store lifecycle
      "q149_components_compacted", "q151_decontaminated_eval",
      "q152_sq8_store",
      // round-12 third wave: the SQ8 refit migration (double
      // quantization under the ceiling) and the prefix-probed
      // matryoshka store (full vectors in cell rows)
      "q155_sq8_refit", "q157_matryoshka_store",
      // round-12 fourth wave: store-served BM25 and the hybrid stack
      "q158_bm25_store", "q159_hybrid_store_serve",
      // round-14: deletion propagation under the ceiling — the tombstone
      // rewrites (one distributed read + bucketed write per store), the
      // edge-store re-cluster, the span subtract, and NB unlearning
      "q160_bm25_tombstone", "q161_vector_tombstone",
      "q162_components_tombstone", "q163_span_tombstone",
      "q165_hybrid_tombstone", "q166_nb_unlearn",
      // round-14 late waves: filtered serving (allow-list semi-joins
      // over the store serves) and the late-interaction family (token
      // cosine aggregates; brute is the worst case under the ceiling)
      "q167_filtered_ann", "q168_filtered_hybrid",
      "q169_maxsim_brute", "q170_maxsim_pruned", "q171_maxsim_store",
      "q172_maxsim_filtered", "q173_maxsim_tombstone",
      // round-15: the SQ8 tombstone rewrite (the r14 roster gap), the
      // two-level banded dedup (b² composite-key explode under the
      // ceiling), the PLAID compressed re-rank, and the whole-source
      // mass takedown (the NON-broadcast anti-join — the row that proves
      // a corpus-scale tombstone set completes under the 4 GiB ceiling)
      "q164_sq8_tombstone", "q174_neardup_two_level", "q175_maxsim_plaid",
      "q177_source_takedown", "q178_incremental_semantic",
      // round-16: the two-level STORE (composite-key ingest + daily join
      // under the ceiling) and the banding-drift audit (store pass into
      // a model-sized aggregate)
      "q179_incr_semantic_two_level", "q180_semantic_band_drift")
    val probes = if (args.nonEmpty) flagships.filter(args.contains) else flagships

    val heap = Runtime.getRuntime.maxMemory() / (1 << 20)
    println(f"MemProbe: heap ${heap}MB, memory.fraction $frac, tables $big")
    println(f"${"query"}%-28s ${"sec"}%8s ${"spill-mem MB"}%13s ${"spill-disk MB"}%14s ${"peak-task MB"}%13s ${"failed"}%7s ${"status"}%7s")
    probes.foreach { name =>
      metrics.reset()
      val t0 = System.nanoTime()
      val ok = try { Bench.run(SparkEntry.queries(name)(spark, big)); true }
      catch { case e: Throwable =>
        System.err.println(s"[memprobe] $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      Bench.sweep(spark)
      // deterministic drain of the async listener queues (via the
      // graftbridge package — listenerBus is private[spark]) so tail
      // task-end events can't leak into the next query's counters; a
      // timeout is reported, not fatal — counters are evidence
      val drained = org.apache.spark.graftbridge.ListenerBridge
        .drainListenerBus(spark.sparkContext)
      if (!drained) System.err.println(s"[memprobe] $name: listener bus drain timed out — next query's counters may include stragglers")
      println(f"$name%-28s $dt%8.1f ${metrics.memSpilled / (1 << 20)}%13d ${metrics.diskSpilled / (1 << 20)}%14d ${metrics.peakExecMem / (1 << 20)}%13d ${metrics.failedTasks}%7d ${if (ok) "OK" else "FAIL"}%7s")
    }
  }
}
