package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** One declared `SparkEntry.queries` entry per family, each evaluated
  * through the noop sink the way `graft.Bench` evaluates it, over tables
  * generated at scale 0.01. Sync and index-lifecycle queries are left to
  * commit_cycles. Every round runs the whole mix in its declared order, so
  * the first use of shared code falls on the same query in every run; the
  * first round is the cold pass.
  *
  * Check (off the clock): after the window every sampled query's result is
  * dumped with `oracle_sql.json`, and run.py compares it with DuckDB
  * running the query's oracle SQL over the same generated tables. */
final class QueryMix(spark: SparkSession, seed: Long, tracer: Tracer,
                     work: String) extends Workload {
  private val Scale = 0.01
  val mix: Seq[(String, String)] = QueryMix.Mix

  private var dir: String = _

  def generate(d: String): Unit = {
    val gen = new Gen(spark, seed, Scale)
    gen.write(d, gen.tables(QueryMix.Inputs))
    dir = d
  }

  /** The engine's set-up for the mix is loading its tables. */
  def setup(d: String): Unit = QueryMix.Inputs.foreach(t =>
    tracer.span("tables.load")(Tables.load(spark, dir, t)))

  private def query(name: String, family: String): Op =
    Op(name, run = () => tracer.span(s"query.$family") {
      SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
    }, family = family)

  def round(): Iterator[Op] = mix.iterator.map { case (n, f) => query(n, f) }

  /** The mix's round time keeps falling for about six rounds as the JIT
    * compiles the query paths; two rounds take the steepest part off. */
  override def warmupRounds: Int = 2

  /** Dump every sampled query's result and its oracle SQL for the DuckDB
    * comparison run.py makes after the JVM exits. */
  override def finish(): Unit = {
    val out = s"$work/verify"
    mix.foreach { case (n, _) =>
      SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$n")
    }
    val sql = mix.map { case (n, _) => n -> SparkEntry.oracleSql(n) }.toMap
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.write(sql))
    Files.writeString(Paths.get(s"$work/oracle_data_dir"), dir)
  }
}

object QueryMix {
  /** (query, family): one declared query per family. */
  val Mix: Seq[(String, String)] = Seq(
    "q_rollup" -> "relational", "q_dedup_exact" -> "dedup",
    "q_cosine_topk" -> "similarity", "q_text_stats" -> "text",
    "q_weighted_sample" -> "sampling", "q_cohort" -> "events",
    "q_media_histogram" -> "media", "q_stateful_sessions" -> "streaming")

  /** The tables the mix reads. */
  val Inputs: Set[String] = Set("lineitem", "events", "documents", "embeddings")
}
