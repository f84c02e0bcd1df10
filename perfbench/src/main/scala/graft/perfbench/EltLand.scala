package graft.perfbench

import java.nio.file.{Files, Paths}
import java.time.{DayOfWeek, Instant, LocalDate}
import java.util.{Base64, SplittableRandom}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.Parsers
import graft.pipeline._
import graft.streaming.{PushEvents, Streams, TextGate}

/** `elt_land`: the reference's scheduled day, replayed over simulated
  * days. A `Clock.Fixed` per day drives `Pipeline.run`, one pipeline (and
  * one op) per source:
  *
  *   - `weather`: JSON pages → `Parsers.weatherRows`, Append behind
  *     `Pipeline.beyondWatermark` (yesterday's re-sent pages must be
  *     dropped), one malformed page a day; zone map on `date`;
  *   - `zips`: HTML state pages → `Parsers.zipRows`, Overwrite, on
  *     Mondays;
  *   - `games`: rows with yesterday's re-sends, deduped by
  *     `Warehouse.newRowsOnly`, Append;
  *   - `stats`: `RelandByDate("date")` daily, plus a manual override that
  *     re-lands a corrected earlier date every third day;
  *   - `customers`: a customer-dimension `Warehouse.upsert`;
  *   - `hits`: pushed base64 payload files, drained exactly once by
  *     `Streams.drainInto(PushEvents.stream(...))`;
  *   - `docs`: 40 scraped documents deduped at the door by
  *     `TextGate.landBatch` against a corpus landed in set-up: fresh
  *     documents, near-duplicates and echoes of accepted ones, and
  *     near-duplicates within the batch. The band store compacts at the
  *     door every third batch.
  *
  * Between them run the reads: a zone-map `readBetween`, the CDC
  * `readAppendedBetween` of today's weather append, a time-travel
  * `readVersion` and an `Expectations.check`, plus `Warehouse.compact` of
  * weather every third day. Every op's output is checked against a model
  * the benchmark keeps of what each table must hold (for `docs`, the
  * exact reference [[TextRef]]); at the end every table's row count and
  * checksum are compared with the model. */
object EltLand {
  /** Warm wall of one simulated day on a 4-core box. */
  val DayS = 9.0
  val WarmDays = 1
  /** A Sunday: the first timed day is a Monday (zips refresh). */
  val Start: LocalDate = LocalDate.of(2024, 3, 3)
  /** The text gate compacts its band store once a probed bucket costs
    * this many file opens: every third batch here. */
  val CompactBar = 2.5
  val ModelTables = Seq("weather", "zips", "games", "stats", "customers", "hits")
  val NZips = 24; val NStates = 4; val NTeams = 8; val HitsPerPayload = 20

  private final class Model {
    val weather = mutable.LinkedHashMap.empty[(String, LocalDate), Double]
    var zips = Seq.empty[(String, String, String)]
    val games = mutable.LinkedHashSet.empty[(Long, String, Int, Int)]
    val stats = mutable.HashMap.empty[LocalDate, Seq[(String, Int, Int)]]
    val customers = mutable.TreeMap.empty[Long, (String, Int, Double, String)]
    val hits = mutable.ArrayBuffer.empty[Seq[Any]]
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val rnd = new SplittableRandom(ctx.seed)
    val root = ctx.dir("wh")
    val wh = Warehouse(spark, root)
    val m = new Model
    val zipCodes = (0 until NZips).map(i => f"${10000 + 37 * i + rnd.nextInt(30)}%05d")
    val teams = (0 until NTeams).map(i => s"team$i")
    var gameId = 0L
    var resent = Seq.empty[(Long, String, Int, Int)]

    // inputs derived from the generated customer and events tables
    val custBase = Gen.rows("customer", 0.001, ctx.seed)
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getDouble(3), r.getString(4)))
    val events = Gen.rows("events", 0.001, ctx.seed)
    var nextCust = custBase.map(_._1).max + 1
    val inbox = ctx.dir("inbox"); val ckpt = ctx.dir("ckpt")

    // the document corpus the gate dedups against, landed in set-up
    val tg = TextGate(wh, "docs", autoCompactBar = Some(CompactBar))
    val textRef = new TextRef
    val corpus = Gen.rows("documents", 0.001, ctx.seed, plantSubs = 1, plantMinWords = 50)
      .map(r => (r.getLong(0), r.getString(1)))
    val corpusVerdict = textRef.land(corpus)
    ctx.call("streaming", "text_gate")(tg.landBatch(corpus.toDF("doc_id", "text"), "corpus"))
    var nextDoc = corpus.map(_._1).max
    val textChecks = mutable.ArrayBuffer.empty[(Op, Set[Long], (Long, Long, Long))]
    var compactions = 0
    val opens = mutable.ArrayBuffer.empty[Double]

    // the customer dimension and weather history start from a plain load
    // (which also declares weather's zone-map column for every later append)
    ctx.call("pipeline", "load") {
      wh.load("customers", custBase.toSeq.map { case (k, (n, nk, b, s)) => (k, n, nk, b, s) }
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), SinkPolicy.Append)
    }
    m.customers ++= custBase
    val hist = for (z <- zipCodes; d <- 1 to 7) yield (z, Start.minusDays(d), precip(rnd))
    ctx.call("pipeline", "load") {
      wh.load("weather", hist.toDF("zip_code", "date", "totalprecip_in"), SinkPolicy.Append,
        statsCol = Some("date"))
    }
    hist.foreach { case (z, d, p) => m.weather((z, d)) = p }

    def weatherPage(z: String, d: LocalDate, p: Double) =
      (z, s"""{"forecast":{"forecastday":[{"date":"$d","day":{"totalprecip_in":$p,"avgtemp_f":${40 + rnd.nextInt(50)}.5}}]}}""")

    final class PageSource(val name: String, val table: String, val policy: SinkPolicy,
                           sched: PipelineContext => Boolean, body: PipelineContext => DataFrame)
        extends Source {
      def schedule(c: PipelineContext): Boolean = sched(c)
      def extract(c: PipelineContext): DataFrame = body(c)
    }
    def runSource(src: Source, pc: PipelineContext): Option[LoadResult] =
      ctx.call("pipeline", "land")(new Pipeline(Seq(src)).run(pc).head.load)

    var weatherFed = 0L; var weatherLanded = 0L; var parsedLanded = 0L
    var rewritten = 0L; var rewriteBase = 0L; var pruned = 0L; var pruneBase = 0L

    def day(i: Int): Unit = {
      val today = Start.plusDays(i.toLong)
      val pc = PipelineContext(spark, wh, Clock.Fixed(today))

      // weather: today's pages, 6 of yesterday's re-sent, one malformed
      val fresh = zipCodes.map(z => (z, precip(rnd)))
      val pages = fresh.map { case (z, p) => weatherPage(z, today, p) } ++
        zipCodes.take(6).map(z => weatherPage(z, today.minusDays(1), precip(rnd))) :+
        ((zipCodes.head, """{"forecast":{"forecastday":[{"date":"""))
      val v0 = wh.currentVersion("weather").get
      val weather = new PageSource("weather", "weather", SinkPolicy.Append, _ => true, c =>
        Pipeline.beyondWatermark(c.warehouse, "weather", "date",
          ctx.call("ingest", "parse")(Parsers.weatherRows(pages.toDF("key", "body")))))
      val (ow, lw) = ctx.op("pipeline", "weather")(runSource(weather, pc))
      ow.rows = pages.size
      lw.foreach { r =>
        ow.expect(r.exists(_.rows == NZips), s"landed ${r.map(_.rows)} rows, expected $NZips")
        val n = r.map(_.rows).getOrElse(0L)
        weatherFed += NZips + 1; weatherLanded += n; parsedLanded += n
      }
      fresh.foreach { case (z, p) => m.weather((z, today)) = p }

      // zips: state pages, truncate-replace on Mondays (and the first day)
      if (today.getDayOfWeek == DayOfWeek.MONDAY || i == 0) {
        val rows = zipCodes.zipWithIndex.map { case (z, j) =>
          (z, s"County${rnd.nextInt(1000)}", s"S${j % NStates}") }
        val zpages = rows.groupBy(_._3).toSeq.map { case (st, rs) =>
          (st, rs.map { case (z, c, _) =>
            s"""<li class="zip">$z</li><li class="county">$c County</li>""" }.mkString("<ul>", "", "</ul>")) }
        val zs = new PageSource("zips", "zips", SinkPolicy.Overwrite, _ => true, _ =>
          ctx.call("ingest", "parse")(Parsers.zipRows(zpages.toDF("key", "body"))))
        val (oz, lz) = ctx.op("pipeline", "zips")(runSource(zs, pc))
        oz.rows = rows.size
        lz.foreach(r => oz.expect(r.exists(_.rows == NZips), s"landed ${r.map(_.rows)}, expected $NZips"))
        parsedLanded += lz.flatten.map(_.rows).sum
        m.zips = rows
      }

      // games: 12 new rows plus yesterday's re-sends, deduped on arrival
      val newGames = (0 until 12).map { _ => gameId += 1
        (gameId, teams(rnd.nextInt(NTeams)), today.getYear, rnd.nextInt(120)) }
      val batch = newGames ++ resent
      resent = newGames.take(8)
      val gs = new PageSource("games", "games", SinkPolicy.Append, _ => true, c =>
        c.warehouse.newRowsOnly("games", batch.toDF("game_id", "team", "year", "score")))
      val (og, lg) = ctx.op("pipeline", "games")(runSource(gs, pc))
      og.rows = batch.size
      lg.foreach(r => og.expect(r.exists(_.rows == 12), s"landed ${r.map(_.rows)}, expected 12"))
      m.games ++= newGames

      // stats: today's partition; every third day a manual re-land of an
      // earlier date with corrected values
      def statsRows(d: LocalDate) = teams.map(t => (t, d, rnd.nextInt(40), rnd.nextInt(15)))
      val todays = statsRows(today)
      var relandRows: LocalDate => Seq[(String, LocalDate, Int, Int)] = _ => Nil
      val ss = new PageSource("stats", "stats", SinkPolicy.RelandByDate("date"), _ => true, c =>
        c.overrides.get("stats").map(d => relandRows(d)).getOrElse(todays)
          .toDF("team", "date", "pts", "reb"))
      val (os, ls) = ctx.op("pipeline", "stats")(runSource(ss, pc))
      os.rows = todays.size
      ls.foreach(r => os.expect(r.exists(_.rows == NTeams), s"landed ${r.map(_.rows)}, expected $NTeams"))
      m.stats(today) = todays.map(t => (t._1, t._3, t._4))
      if (i % 3 == 2) {
        val d = today.minusDays(2)
        val fixed = statsRows(d)
        relandRows = _ => fixed
        val (or, lr) = ctx.op("pipeline", "stats_reland")(
          runSource(ss, pc.copy(overrides = Map("stats" -> d))))
        or.rows = fixed.size
        lr.foreach(r => or.expect(r.exists(_.rows == NTeams), s"re-landed ${r.map(_.rows)}, expected $NTeams"))
        m.stats(d) = fixed.map(t => (t._1, t._3, t._4))
      }

      // customer dimension: 10 updates + 3 inserts, latest wins per key
      val custVersion = wh.currentVersion("customers").get
      val custBefore = m.customers.size.toLong
      val keys = m.customers.keys.toIndexedSeq
      val upd = (0 until 10).map(_ => keys(rnd.nextInt(keys.size))).distinct.map { k =>
        val (n, nk, _, s) = m.customers(k); (k, n, nk, Gen.money(rnd, -999.99, 9999.99), s) }
      val ins = (0 until 3).map { _ => nextCust += 1
        (nextCust, f"Customer#$nextCust%09d", rnd.nextInt(25), Gen.money(rnd, 0, 9999.99), "BUILDING") }
      val changes = upd ++ ins
      val filesBefore = wh.currentFiles("customers").size
      val (ou, lu) = ctx.op("pipeline", "upsert")(ctx.call("pipeline", "upsert")(wh.upsert("customers",
        changes.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
        Seq("c_custkey"))))
      ou.rows = changes.size
      lu.foreach { r =>
        ou.expect(r.rows == changes.size, s"upserted ${r.rows}, expected ${changes.size}")
        rewritten += "rewrote=(\\d+)".r.findFirstMatchIn(r.action).map(_.group(1).toLong).getOrElse(0L)
        rewriteBase += filesBefore
      }
      changes.foreach { case (k, n, nk, b, s) => m.customers(k) = (n, nk, b, s) }

      // pushed hits: payload files (base64 JSON arrays of hit rows) dropped
      // into the inbox and drained exactly once into the warehouse
      (0 until 3).foreach { p =>
        val hs = (0 until HitsPerPayload).map { _ =>
          val e = events(rnd.nextInt(events.size))
          val ts = Instant.parse(s"${today}T00:00:00Z").plusSeconds(rnd.nextInt(86400).toLong)
          Seq(java.sql.Timestamp.from(ts), s"/page/${e.getString(3)}", if (rnd.nextInt(3) == 0) null else "https://ref.example/",
            s"s${e.getLong(2)}", "bench-agent", s"10.0.${rnd.nextInt(256)}.${rnd.nextInt(256)}",
            Gen.pick(rnd, Array("US", "DE", "FR", "BR")), rnd.nextInt(10) == 0)
        }
        m.hits ++= hs
        val payload = Base64.getEncoder.encodeToString(hs.map(hitJson).mkString("[", ",", "]").getBytes("UTF-8"))
        val tmp = Paths.get(root).resolveSibling(s".drop-$i-$p")
        Files.write(tmp, (payload + "\n").getBytes("UTF-8"))
        Files.move(tmp, Paths.get(inbox, s"drop-$i-$p.txt"))
      }
      val (oh, q) = ctx.op("streaming", "drain")(ctx.call("streaming", "drain")(
        Streams.drainInto(PushEvents.stream(spark, inbox), wh, "hits", SinkPolicy.Append, ckpt, "hits")))
      oh.rows = 3L * HitsPerPayload
      q.foreach { sq =>
        val n = sq.recentProgress.map(_.numInputRows).sum
        oh.expect(n == 3, s"drained $n payloads, expected 3")
      }

      // scraped documents: 28 fresh, 6 near-dups and 4 echoes of accepted
      // documents, 2 near-dups of a lower id in the same batch
      val accepted = textRef.texts.values.toIndexedSeq
      val long = accepted.filter(_.count(_ == ' ') >= 49)
      val freshDocs = (0 until 28).map(_ => Gen.words(rnd, 10 + rnd.nextInt(90)).mkString(" "))
      val freshLong = Some(freshDocs.filter(_.count(_ == ' ') >= 49)).filter(_.nonEmpty).getOrElse(long)
      val texts = freshDocs ++
        (0 until 6).map(_ => Gen.mutate(rnd, long(rnd.nextInt(long.size)), 1)) ++
        (0 until 4).map(_ => accepted(rnd.nextInt(accepted.size))) ++
        (0 until 2).map(_ => Gen.mutate(rnd, freshLong(rnd.nextInt(freshLong.size)), 1))
      val tb = texts.map { t => nextDoc += 1; (nextDoc, t) }
      val want = textRef.land(tb)
      if (tg.maintenanceNeeded(CompactBar)) compactions += 1
      val (od, _) = ctx.op("streaming", "text_gate")(ctx.call("streaming", "text_gate")(
        tg.landBatch(tb.toDF("doc_id", "text"), s"docs-$i")))
      od.rows = tb.size
      textChecks += ((od, tb.map(_._1).toSet, want))
      opens += tg.expectedOpensPerBucket

      // reads: zone-map range, CDC of today's append, time travel, checks
      val lo = today.minusDays(2)
      val (orb, nrb) = ctx.op("pipeline", "read_range")(ctx.call("pipeline", "read")(
        wh.readBetween("weather", "date", lo.toString, today.toString).count()))
      val wantRange = m.weather.keys.count { case (_, d) => !d.isBefore(lo) && !d.isAfter(today) }
      nrb.foreach(n => orb.expect(n == wantRange, s"readBetween $n rows, expected $wantRange"))
      TxnLog.current(Paths.get(root, "weather")).foreach { mf =>
        pruned += mf.files.size - wh.prunedFiles(mf, "weather", "date", lo.toString, today.toString).size
        pruneBase += mf.files.size
      }
      val (oc, nc) = ctx.op("pipeline", "read_cdc")(ctx.call("pipeline", "cdc")(
        wh.readAppendedBetween("weather", v0, wh.currentVersion("weather").get).count()))
      nc.foreach(n => oc.expect(n == NZips, s"CDC read $n rows, expected $NZips"))
      val (ot, nt) = ctx.op("pipeline", "read_version")(ctx.call("pipeline", "read")(
        wh.readVersion("customers", custVersion).count()))
      nt.foreach(n => ot.expect(n == custBefore, s"time travel read $n rows, expected $custBefore"))
      val rules = Seq(Expectations.NotNull("date"), Expectations.InRange("totalprecip_in", 0, 5),
        Expectations.Unique("zip_code", "date"))
      val (oe, ce) = ctx.op("pipeline", "check")(ctx.call("pipeline", "check")(
        Expectations.check(wh.read("weather"), rules)))
      ce.foreach { c =>
        oe.expect(c("rows") == m.weather.size, s"checked ${c("rows")} rows, expected ${m.weather.size}")
        oe.expect(c.removed("rows").values.forall(_ == 0), s"violations ${c.filter(_._2 > 0)}")
      }
      if (i % 3 == 1) {
        // small target files, range-clustered on the zone-map column, so
        // later range reads can skip most of them
        val n = wh.currentFiles("weather").size
        val (ok, lk) = ctx.op("pipeline", "compact")(ctx.call("pipeline", "compact")(
          wh.compact("weather", targetBytesPerFile = 4096)))
        lk.foreach { _ => rewritten += n; rewriteBase += n
          val after = wh.currentFiles("weather").size
          ok.expect(after < n, s"compaction left $after of $n files") }
      }
    }

    ctx.phase("inputs ready")
    (0 until WarmDays).foreach { d => day(d); ctx.phase(s"warm day $d") }
    val warmOps = ctx.ops.size
    val bytes0 = dataAndLogBytes(Paths.get(root))
    textChecks.clear(); opens.clear(); compactions = 0
    weatherFed = 0; weatherLanded = 0; parsedLanded = 0; rewritten = 0; rewriteBase = 0; pruned = 0; pruneBase = 0
    val days = if (ctx.smoke) 1 else math.max(1, math.round(ctx.seconds / DayS).toInt)
    ctx.startTimed()
    (WarmDays until WarmDays + days).foreach(day)
    ctx.endTimed()
    val bytes1 = dataAndLogBytes(Paths.get(root))

    // the gate's verdicts against the reference, per batch
    val verdicts = wh.read(tg.verdictTable).select($"doc_id", $"is_new", coalesce($"dup_of", lit(0L)))
      .as[(Long, Boolean, Long)].collect()
    val corpusGot = verdicts.filter(_._1 <= corpus.map(_._1).max)
    if ((corpusGot.count(_._2).toLong, corpusGot.count(!_._2).toLong, corpusGot.map(_._3).sum) != corpusVerdict)
      ctx.checkErrors += s"docs corpus verdicts differ from the reference $corpusVerdict"
    textChecks.foreach { case (o, ids, want) =>
      val mine = verdicts.filter(v => ids.contains(v._1))
      val got = (mine.count(_._2).toLong, mine.count(!_._2).toLong, mine.map(_._3).sum)
      o.expect(mine.length == ids.size, s"${mine.length} verdicts for ${ids.size} arrivals")
      o.expect(got == want, s"verdicts (accepted, rejected, sum dup_of) $got, reference $want")
    }
    val staged = wh.read(tg.stageTable).count()
    if (staged != textRef.texts.size)
      ctx.checkErrors += s"docs stage holds $staged documents, reference accepted ${textRef.texts.size}"

    // final state: every table's count and checksum against the model
    val want = Map(
      "weather" -> Check.ofValues(m.weather.iterator.map { case ((z, d), p) => Seq(z, d, p) }),
      "zips" -> Check.ofValues(m.zips.iterator.map { case (z, c, s) => Seq(z, c, s) }),
      "games" -> Check.ofValues(m.games.iterator.map(g => Seq(g._1, g._2, g._3, g._4))),
      "stats" -> Check.ofValues(m.stats.iterator.flatMap { case (d, rs) =>
        rs.map { case (t, p, r) => Seq(t, d, p, r) } }),
      "customers" -> Check.ofValues(m.customers.iterator.map { case (k, (n, nk, b, s)) =>
        Seq(k, n, nk, b, s) }),
      "hits" -> Check.ofValues(m.hits.iterator))
    val cols = Map(
      "weather" -> Seq("zip_code", "date", "totalprecip_in"),
      "zips" -> Seq("zip_code", "county", "state"),
      "games" -> Seq("game_id", "team", "year", "score"),
      "stats" -> Seq("team", "date", "pts", "reb"),
      "customers" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "hits" -> PushEvents.hitSchema.fieldNames.toSeq)
    ModelTables.foreach { t =>
      val got = Check.ofRows(wh.read(t).select(cols(t).map(col): _*).collect().iterator)
      if (got != want(t)) ctx.checkErrors += s"final $t: $got, model ${want(t)}"
    }

    val live = liveBytes(wh, root)
    Outcome(
      storedPerLive = Stats.bytesUnder(Paths.get(root)).toDouble / live,
      perLayer = Map(
        "ingest.rows_out" -> (parsedLanded.toDouble, "rows"),
        "ingest.bad_rows" -> ((weatherFed - weatherLanded).toDouble, "rows"),
        "pipeline.bytes_written" -> ((bytes1._1 - bytes0._1).toDouble, "bytes"),
        "pipeline.log_bytes" -> ((bytes1._2 - bytes0._2).toDouble, "bytes"),
        "pipeline.files" -> (wh.catalog.listTables().map(wh.currentFiles(_).size).sum.toDouble, "count"),
        "pipeline.prune_ratio" -> (if (pruneBase == 0) 0.0 else pruned.toDouble / pruneBase, "ratio"),
        "pipeline.rewrite_ratio" -> (if (rewriteBase == 0) 0.0 else rewritten.toDouble / rewriteBase, "ratio"),
        "streaming.accept_ratio" -> (textChecks.map(_._3._1).sum.toDouble / textChecks.map(_._2.size).sum, "ratio"),
        "streaming.opens_per_bucket" -> (Stats.median(opens.toSeq), "count"),
        "streaming.compactions" -> (compactions.toDouble, "count")),
      notes = Seq(s"$WarmDays warm days ($warmOps ops) + $days timed days"))
  }

  private def precip(r: SplittableRandom): Double = r.nextInt(300) / 100.0

  private def hitJson(h: Seq[Any]): String = {
    def q(v: Any) = v match {
      case null => "null"
      case t: java.sql.Timestamp => "\"" + t.toInstant + "\""
      case b: Boolean => b.toString
      case s => "\"" + s + "\""
    }
    PushEvents.hitSchema.fieldNames.zip(h).map { case (k, v) => s""""$k":${q(v)}""" }
      .mkString("{", ",", "}")
  }

  /** Bytes of current data files across every table of the warehouse. */
  private def liveBytes(wh: Warehouse, root: String): Double =
    wh.catalog.listTables().map { t =>
      wh.currentFiles(t).map(f => Files.size(Paths.get(root, t, f))).sum
    }.sum.toDouble

  /** (data bytes, `_log` bytes) under a warehouse root. */
  private def dataAndLogBytes(root: java.nio.file.Path): (Long, Long) = {
    val st = Files.walk(root)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).foldLeft((0L, 0L)) { (a, p) =>
      if (p.toString.contains("/_log/")) (a._1, a._2 + Files.size(p)) else (a._1 + Files.size(p), a._2)
    } finally st.close()
  }
}
