package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale posture baked in. Local runs
  * parameterize cores via SPARK_GRAFT_CPUS; on a real cluster the same
  * confs apply (master/memory come from spark-submit).
  */
object GraftSession {

  /** Spark 4 maps case through ICU by default, and the JVM's first
    * `lower()` then builds ICU's case table (~1.5 s of static
    * initializer in `CollationAwareUTF8String` on 4 vCPUs). The JVM
    * mapping never builds it. ASCII strings map byte-identically either
    * way (both take the ASCII fast path); CaseMappingSpec pins where the
    * two differ beyond ASCII.
    */
  val JvmCaseMapping: (String, String) = "spark.sql.icu.caseMappings.enabled" -> "false"

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val s = builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cluster-agnostic tuning:
    * - AQE on (default in Spark 4) with skew-join splitting: runtime
    *   re-plan handles moderate skew; SkewJoin.saltedInnerJoin covers the
    *   pathological single-key case.
    * - UTC session time (the reference's TIMESTAMP(3) semantics are
    *   zone-free millis; mixed-zone clusters must not re-interpret).
    * - 128 MiB file partitions: big enough to amortize task overhead at
    *   100 TB (~800k tasks), small enough to fit comfortably in executor
    *   memory with a wide row.
    * - The JVM's case mapping for lower/upper/initcap, as in Spark 3.x
    *   ([[JvmCaseMapping]]).
    */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", String.valueOf(128L << 20))
      .config(JvmCaseMapping._1, JvmCaseMapping._2)
      // bucketed-table writes (operators.Bucketing) land here; keep the
      // repo clean and let repeated local runs overwrite freely
      .config("spark.sql.warehouse.dir", "file:///tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
}
