package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.ops.QueryDef
import graft.sources.Tables

/** `query_sweep`: registered queries through the driver contract
  * (`SparkEntry.defs`, `QueryDef.fn(spark, dir)`) over a generated
  * sf0.001-shaped fixture.
  *
  * The panel is twenty queries, one to three from each of the main
  * registries: seventeen that take 0.1-0.4 s warm (scans, kits, joins,
  * windows, samples, small aggregates) and three of 0.5-1 s (a TPC-H join,
  * the ANN router and a near-dup query). Many kinds with spread costs put
  * the median among many samples of near-equal cost, and the three heavy
  * kinds hold the slowest 15% of ops, so p90 falls inside them. With a few
  * kinds a quantile lands in the gap between two kinds' costs, where it
  * follows whichever of their runs happened to be faster. A full sweep of all 129
  * queries takes about a minute on 4 cores, which does not fit the per-run
  * budget; a named panel also stays put when queries are added. The
  * fixture comes from a fixed seed, so every output is checked
  * against checksums recorded in `expected/`; `--seed` permutes the query
  * order of every round.
  *
  * Each op is `QueryDef.fn` (span `build`: plan build plus the eager jobs
  * some queries run) and then an order-independent checksum of every
  * output row in one Spark job (span `exec`, with its planning in span
  * `plan`), the noop sink's work plus a hash. */
object QuerySweep {
  val Panel = Seq("q5_local_supplier", "filter_in_list", "ann_auto_topk", "string_kit",
    "map_kit", "pivot_event_counts", "doc_fingerprint", "text_stats", "heavy_hitters_terms",
    "simhash_neardup", "stratified_sample", "weighted_sample", "anti_join_new_rows",
    "latest_per_key", "fuzzy_jw_entities", "window_value_kit", "histogram_price",
    "entropy_by_group", "tumbling_window_counts", "multimodal_features")
  val FixtureSeed = 20261017L
  val FixtureSf = 0.001
  /** Warm wall of one panel round on a 4-core box: `--seconds` buys
    * round(seconds / RoundS) rounds, at least one. */
  val RoundS = 6.0

  def panel: Seq[QueryDef] = {
    val byName = SparkEntry.defs.map(d => d.name -> d).toMap
    Panel.map(n => byName.getOrElse(n, sys.error(s"panel query $n is not registered")))
  }

  def readExpected(home: Path): Map[String, String] = {
    val f = home.resolve("expected").resolve("query_sweep.tsv")
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
  }

  /** Generate the fixture and resolve every table once through
    * `Tables.load` (the `sources` layer: path, cached schema inference). */
  def fixture(ctx: Ctx, seed: Long, sf: Double): String = {
    val dir = ctx.dir("fixture")
    ctx.phase("session up")
    val written = Gen.fixture(ctx.spark, dir, sf, seed)
    ctx.phase("fixture written")
    Tables.names.foreach { t =>
      val cols = ctx.call("sources", "load")(Tables.load(ctx.spark, dir, t).columns)
      if (cols.isEmpty || !written.contains(t)) ctx.checkErrors += s"fixture $t: not loadable"
    }
    ctx.phase("fixture loaded")
    dir
  }

  /** `plan` (inside `exec`) is Catalyst's analysis, optimization and
    * physical planning of the op's final query; plans of the eager jobs
    * inside `QueryDef.fn` count in `build`. */
  def checksum(ctx: Ctx, d: QueryDef, dir: String): Check.Sum =
    try {
      val df = ctx.call("ops", "build")(d.fn(ctx.spark, dir))
      ctx.call("ops", "exec") {
        val sums = Check.partitionSums(df)
        ctx.call("ops", "plan")(sums.queryExecution.executedPlan)
        Check.total(sums.collect())
      }
    } finally ctx.spark.catalog.clearCache()

  def run(ctx: Ctx): Outcome = {
    val queries = if (ctx.smoke) panel.take(3) else panel
    val dir = fixture(ctx, FixtureSeed, FixtureSf)
    val expected = readExpected(ctx.home) ++
      ctx.plantWrong.map(q => q -> "0:planted-wrong-checksum")
    // set-up pass: every panel query once, checked — this also compiles
    // the codegen and warms the JIT the timed rounds run on
    queries.foreach { d =>
      val t0 = System.nanoTime()
      val s = try checksum(ctx, d, dir).toString
              catch { case e: Throwable => Check.describe(e) }
      System.err.println(f"set-up ${d.name} ${(System.nanoTime() - t0) / 1e6}%.0f ms")
      if (!expected.get(d.name).contains(s))
        ctx.checkErrors += s"${d.name}: set-up checksum $s, expected ${expected.getOrElse(d.name, "none recorded")}"
    }
    ctx.phase("set-up pass done")
    val rounds = if (ctx.smoke) 1 else math.max(1, math.round(ctx.seconds / RoundS).toInt)
    val rng = new scala.util.Random(ctx.seed)
    ctx.startTimed()
    for (_ <- 0 until rounds; d <- rng.shuffle(queries)) {
      val (o, sum) = ctx.op("ops", d.name)(checksum(ctx, d, dir))
      sum.foreach { s =>
        o.rows = s.rows
        o.expect(expected.get(d.name).contains(s.toString),
          s"checksum $s != expected ${expected.getOrElse(d.name, "none")}")
      }
    }
    ctx.endTimed()
    Outcome(storedPerLive = 1.0, perLayer = Map.empty,
      notes = Seq(s"panel ${queries.size} queries x $rounds rounds"))
  }
}
