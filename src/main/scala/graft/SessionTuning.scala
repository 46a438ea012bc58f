package graft

import org.apache.spark.sql.SparkSession

/** Data-adaptive session sizing — the one knob the sf10 probe showed a
  * cluster operator always turns (TESTDATA.md round-13 wave): shuffle
  * partitions sized to the DATA, not pinned to the core count.
  *
  * The measured facts behind the constants: at sf10 (≈122 MiB of
  * compressed input that expands ~100× into the widest shuffle, the
  * 26M-row positional postings), 32 partitions (=cores) OOM'd
  * pairs_build's candidate expansion at the 8g default heap and ran
  * tok_build at a ×25.9 decade ratio; the quiet-host sweep found 96
  * (=3× cores) makes the whole build chain ≈linear-or-better (index
  * exp 0.51, pairs 1.08, tok 0.97), and 256 overshoots (scheduling +
  * small-file overhead). At sf0.1/sf1 the working set fits and the
  * core count is right. So: one full wave of `cores` tasks per
  * ~1.5 MiB-of-compressed-input slices, floored at `cores` — which
  * resolves to 32 at sf0.1/sf1 and 96 at sf10, i.e. today's measured
  * values at today's scales, and keeps growing linearly with input
  * past that (the partitions ≫ cores regime a production cluster runs
  * with). `SPARK_GRAFT_SHUFFLE_PARTITIONS` still overrides.
  */
object SessionTuning {

  /** ~1.5 MiB of compressed parquet input per shuffle slice: with the
    * ~100× expansion of the widest build shuffle, each task's expanded
    * slice stays in the ~150 MB class — the size that fit comfortably
    * where the sf10 sweep measured its optimum.
    */
  val TargetSliceBytes: Long = 1536L * 1024L

  /** Total on-disk bytes of the sf dir's table files (recursive — a
    * table may be a single file or a directory of parts). Unreadable
    * paths count 0: sizing degrades to the core floor, never throws.
    */
  def inputBytes(sfDir: String): Long = {
    def sizeOf(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
    sizeOf(new java.io.File(sfDir))
  }

  /** `max(cores, ceil(bytes / targetSlice) rounded up to full waves of
    * cores)` — full waves because a partial last wave idles cores
    * without shrinking any task's slice (AQE coalesces the small ones
    * anyway; the count matters for the big shuffles).
    */
  def shufflePartitionsFor(cores: Int, totalInputBytes: Long,
      targetSliceBytes: Long = TargetSliceBytes): Int = {
    require(cores > 0 && targetSliceBytes > 0,
      s"bad sizing inputs: cores=$cores, targetSliceBytes=$targetSliceBytes")
    val slices = (totalInputBytes + targetSliceBytes - 1) / targetSliceBytes
    if (slices <= cores) cores
    else (((slices + cores - 1) / cores) * cores).min(Int.MaxValue.toLong).toInt
  }

  /** The env-overridable resolution every session entry point uses. */
  def shufflePartitions(cores: Int, sfDir: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS",
      shufflePartitionsFor(cores, inputBytes(sfDir)).toString)

  /** Core count: `SPARK_GRAFT_CPUS`, else the cores the JVM sees. */
  def cpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** Master: `SPARK_GRAFT_MASTER`, then the `spark.master` system
    * property (spark-submit's `--master`, which a hard-coded builder
    * value would clobber), then in-process `local[cpus]`.
    */
  def master(env: Map[String, String] = sys.env,
      props: Map[String, String] = sys.props.toMap): String =
    env.get("SPARK_GRAFT_MASTER").orElse(props.get("spark.master"))
      .getOrElse(s"local[${cpus(env)}]")

  /** The engine's one session configuration, used by every main:
    * resolved master, data-sized shuffle partitions, the legacy
    * nanos-timestamp tolerance (see Tables.normalizeTs), UTC, no UI.
    */
  def session(sfDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master())
      .config("spark.sql.shuffle.partitions", shufflePartitions(cpus(), sfDir))
      .config(Tables.NanosAsLongKey, "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
