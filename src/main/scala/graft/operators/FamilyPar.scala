package graft.operators

/** Bounded driver-side fan-out over REGISTERED STORE FAMILIES — the
  * orchestration-level parallelism the optimization guide files under
  * "overlap independent jobs from driver threads": a curation date's
  * appends (and a takedown batch's rewrites, a maintenance window's
  * folds) touch one family's OWN tables/paths each, with no cross-family
  * dependency, yet the sequential loop paid their latencies end-to-end —
  * every append is mostly fixed cost (lease files, catalog DDL, commit
  * protocol, small write jobs) that leaves the cluster idle while the
  * driver round-trips. Running the per-family blocks on a small pool
  * overlaps those latencies; Spark schedules concurrent jobs from
  * multiple driver threads natively (FIFO across cores).
  *
  * SAFETY ARGUMENT (why arbitrary interleaving is as safe as the
  * sequential prefix): each orchestrator's crash analysis already covers
  * "some families completed, others not, no marker" — curate re-drops a
  * date's residue per family before re-appending, takedown's
  * deterministic `r_<gen>` labels make a completed family's retry a
  * documented no-op, maintenance folds resume from their pending
  * sentinels. Parallel execution only changes WHICH subset completed at
  * a failure, never the recovery. Families share no tables or store
  * paths by the registry's construction (each family owns its prefix);
  * the per-store append/maintenance leases keep even a misconfigured
  * overlap loud rather than corrupting.
  *
  * Failure semantics: every task runs to settlement (no cancellation —
  * an interrupted rewrite would just leave a pending sentinel for the
  * retry anyway), then the FIRST failure in family order is rethrown, so
  * callers observe the same exception type as the sequential loop.
  * Results preserve family order.
  *
  * `maxConcurrent` bounds the pool (default 4): families multiply
  * DRIVER-side concurrency, and each family's own jobs already fan out
  * across the cluster — a handful of overlapped families saturates the
  * fixed-cost latencies without stacking N full shuffles' memory. A
  * single family (or bound 1) short-circuits to the plain sequential
  * loop.
  *
  * `graft.split.Splitter` reuses the pool for its per-key promote: each
  * key's filesystem ops touch only that key's own staging and output
  * dirs, the same disjointness the family blocks rely on. */
object FamilyPar {

  def foreach[A](items: Seq[A], maxConcurrent: Int = 4)(f: A => Unit): Unit = {
    map(items, maxConcurrent)(f); ()
  }

  def map[A, B](items: Seq[A], maxConcurrent: Int = 4)(f: A => B): Seq[B] = {
    val bound = math.min(math.max(1, maxConcurrent), items.size)
    if (bound <= 1 || items.size <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(bound)
      try {
        import scala.jdk.CollectionConverters._
        val tasks = items.map { a =>
          new java.util.concurrent.Callable[B] { def call(): B = f(a) }
        }
        // invokeAll settles every task; get() rethrows the first failure
        // in FAMILY order (wrapped in ExecutionException — unwrap so the
        // caller sees the family's own exception type, the sequential
        // loop's contract)
        pool.invokeAll(tasks.asJava).asScala.toSeq.map { fut =>
          try fut.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }
      } finally pool.shutdown()
    }
  }
}
