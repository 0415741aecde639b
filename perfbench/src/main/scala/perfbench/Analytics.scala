package perfbench

import java.nio.file.{Files, Path}
import graft.SparkEntry

/** Workload `analytics`: queries from `SparkEntry.queries` over the
  * fixed tables in `data/`, each materialized with graft Bench's
  * protocol-v5 action (`queryExecution.toRdd.foreach`). graft's session
  * caches are keyed by table dir, so a pass over a fresh copy of the
  * tables is a cold pass. The run makes one copy per cold pass, and an
  * immediate rerun pass on the same copy, served from the caches,
  * follows each cold pass. The first copy's passes only warm the JIT and
  * generated code; the others are timed, so every metric is a median
  * over samples spread across the run.
  * Only `operators`, `functions` and the session caches work here.
  * `run.py` checks the results against graft's DuckDB oracle SQL.
  *
  * The tables and the query order are fixed, so the seed changes
  * nothing here. Queries run in graft Bench's order, sorted by name: the
  * first consumer of a shared cache builds it, and a seeded order made
  * the cold pass bimodal (7.5 s or 13–14 s, by which query came first).
  *
  * The suite has 81 queries; a run times the five below, because the
  * whole suite takes longer than a run's budget. They cover the largest
  * session-cache families (MinHash signatures, pairs and clusters shared
  * by q24/q25/q40, n-gram LMs and DSIR weights, decontamination hits)
  * and the slowest operator (q25). */
object Analytics {
  val Queries: Seq[String] = Seq("q24_minhash_lsh", "q25_ngram_jaccard",
    "q40_dedup_clusters", "q57_semantic_decontam", "q80_dsir_weights")

  /** The set-up query: the first graft call on a fresh copy. It joins
    * and aggregates three tables and uses none of the session caches the
    * timed queries build. */
  val OpenQuery = "q3_join_agg"

  val Tables: Seq[String] = Seq("lineitem", "orders", "customer", "nation",
    "region", "part", "supplier", "events", "documents", "embeddings")

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val spark = ctx.spark
    def materialize(q: String, dir: String): Unit =
      SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.foreach(_ => ())

    // set-up, once per copy: copy the tables to a fresh dir and run the
    // first graft query on them (file listing, parquet footers, planning)
    val copies = (0 to ctx.repeats(4.0)).map { _ =>
      val dir = ctx.freshDir("tables")
      val t = ctx.tracer.time("setup.tables") {
        Tables.foreach(t => Files.copy(ctx.s.data.resolve(s"$t.parquet"), Path.of(dir, s"$t.parquet")))
        materialize(OpenQuery, dir)
      }
      (dir, t)
    }
    r.put("setup_s", Stats.median(copies.map(_._2)), "s")

    def pass(label: String, dir: String): Seq[(String, Double)] =
      Queries.flatMap { q =>
        try Some(q -> ctx.tracer.time(s"$label.$q")(materialize(q, dir)))
        catch { case e: Exception => r.threw(s"$q ($label pass)", e); None }
      }
    def total(p: Seq[(String, Double)]): Double = p.map(_._2).sum

    // each copy gets a cold pass and then an immediate rerun; the first
    // copy's passes only warm up, the others give the timed ones
    val warmDir = copies.head._1
    r.put("setup.warmup_s", total(pass("setup", warmDir)) + total(pass("setup.rerun", warmDir)), "s")
    r.put("setup.process_s", Main.processSeconds(), "s")
    val (colds, reruns) = copies.tail.map { case (dir, _) =>
      val cold = pass("operators", dir)
      val rerun = pass("rerun", dir)
      println(f"[pass] cold ${total(cold)}%.3fs rerun ${total(rerun)}%.3fs")
      (cold, rerun)
    }.unzip
    val passes = colds ++ reruns
    r.attempted += passes.map(_.size).sum

    r.put("throughput", passes.map(_.size).sum / passes.map(total).sum, "1/s")
    r.put("start_s", Stats.median(colds.map(total)), "s")
    r.put("pass_s_p50", Stats.median(reruns.map(total)), "s")
    val coldQuery = Queries.map(q => q -> Stats.median(colds.flatMap(_.toMap.get(q))))
    coldQuery.foreach { case (q, t) => r.put(s"operators.${q}_s", t, "s") }
    r.put("operators.query_s_p50", Stats.median(coldQuery.map(_._2)), "s")
    r.put("operators.query_s_max", coldQuery.map(_._2).max, "s")

    // outputs for the DuckDB oracle: each query's result, recomputed
    // outside the timed passes, and the oracle SQL graft ships with it
    val dir = copies.last._1
    val results = ctx.s.work.resolve("results")
    val sql = new java.util.TreeMap[String, String]()
    (OpenQuery +: Queries).foreach { q =>
      SparkEntry.queries(q)(spark, dir).write.parquet(results.resolve(q).toString)
      sql.put(q, SparkEntry.oracleSql(q))
    }
    Files.writeString(ctx.s.work.resolve("oracle.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(
        java.util.Map.of("tables", dir, "results", results.toString, "sql", sql)))
  }
}
