package graft

/** The one (kind, key) → value memo behind every gate-fixture layer
  * (the CEP shared replay, the semdedup assignment/flat tables, the
  * substring index/runs). Values are session-independent plain JVM
  * data — parquet PATHS or collected fixture rows — never DataFrames
  * (a cached DataFrame would pin a stopped SparkSession).
  *
  * Deliberately get-then-putIfAbsent, NEVER computeIfAbsent: fixture
  * builders NEST (the flat-drop table builds on the assignment table,
  * the detect runs build on the shingle index, the CEP replay builds
  * on the day-folded fixture), and a nested insert inside a
  * computeIfAbsent on the same ConcurrentHashMap is forbidden on
  * JDK 9+ — it throws IllegalStateException("Recursive update")
  * whenever the two keys land in the same bin, which is deterministic
  * per key string and so can appear out of nowhere with a new sf dir.
  *
  * SINGLE-FLIGHT (r17, ADVICE): builds serialize on a PER-KEY lock
  * (never the map itself), so two threads asking for the same fixture
  * run ONE build instead of racing two quadratic kernels and orphaning
  * the loser's temp directory. Nested builds stay safe: the nest
  * graph is a DAG by construction (runs → idx, flat → asg, replay →
  * fold — a builder only ever asks for a strictly upstream fixture),
  * so the per-key monitors can never cycle. Distinct keys still build
  * concurrently.
  *
  * IMMUTABLE INPUTS PER PROCESS: an entry is keyed by (kind, key) —
  * the sf dir plus parameters — and never invalidates, so every public
  * entry point built on it (Dedup.minhashLsh / nearDupClusters /
  * nearDupCanonical, KMeans.kmeansClusters, TextAnalysis.bpeMerges /
  * bpeEncode, the Graph co-purchase gates, the streaming replay gates
  * including the upsert-sink state) assumes the tables under a dir do
  * not change for the life of the JVM. Rewriting them in-process makes
  * every later call return the results of the old tables, silently;
  * write new data under a new dir (or start a new JVM) instead. The
  * Verify/Bench/spec harnesses start a fresh JVM per run and never
  * rewrite a dir they read.
  *
  * CLEANUP (r17, ADVICE): fixture temp directories live for the JVM
  * and were never deleted. [[cleanupOnExit]] registers a path for
  * recursive deletion in one shutdown hook — builders call it on the
  * directories they create, so a long-lived JVM no longer leaks one
  * orphan dir per (dir, params) combination it touched.
  */
private[graft] object FixtureMemo {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]

  /** The memoized value for (kind, key), built once per process. The
    * inputs `build` reads must not change for the life of the JVM (see
    * IMMUTABLE INPUTS PER PROCESS above): nothing invalidates an entry.
    */
  def of[T <: AnyRef](kind: String, key: String)(build: => T): T = {
    val k = (kind, key)
    val cur = cache.get(k)
    if (cur != null) return cur.asInstanceOf[T]
    val lock = {
      val l = locks.get(k)
      if (l != null) l
      else {
        val fresh = new AnyRef
        val prev = locks.putIfAbsent(k, fresh)
        if (prev != null) prev else fresh
      }
    }
    lock.synchronized {
      // double-check under the key's lock: the winner of a concurrent
      // ask built while this thread waited
      val again = cache.get(k)
      if (again != null) again.asInstanceOf[T]
      else {
        val v = build
        cache.put(k, v)
        v
      }
    }
  }

  private val exitPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      exitPaths.forEach { p =>
        try {
          val root = java.nio.file.Paths.get(p)
          if (java.nio.file.Files.exists(root)) {
            import scala.jdk.CollectionConverters._
            // the walk stream holds a directory handle — close it
            // before deleting (r17 self-review: an unclosed stream per
            // registered dir could exhaust fd headroom at exit and the
            // blanket catch would silently leave the dirs behind)
            val walk = java.nio.file.Files.walk(root)
            val files =
              try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
              finally walk.close()
            files.foreach(f =>
              try java.nio.file.Files.deleteIfExists(f)
              catch { case _: java.io.IOException => () })
          }
        } catch { case _: Throwable => () }
      }))

  /** Register a fixture temp directory for recursive deletion at JVM
    * exit (idempotent; failures are swallowed — cleanup must never
    * mask the run's own exit status).
    */
  def cleanupOnExit(path: String): String = {
    hookInstalled
    exitPaths.add(path)
    path
  }
}
