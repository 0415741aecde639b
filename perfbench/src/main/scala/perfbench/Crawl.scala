package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.{Crawler, CrawlerOptions}
import graft.core.{CrawlConfig, Fetcher, RobotsMatcher, SeedRequest, SyntheticWeb, UrlCanonicalizer}
import graft.engine.CrawlEngine
import graft.icelite.IceLite
import graft.sim.RefSimulator

/** Workload `crawl`: node-crawler's usage pattern through the
  * `api.Crawler` facade, on a seeded web of about 4200 rich pages (300
  * hosts plus a 12x mega-host) with the HTML parse path on. Queue every
  * page and `run(onAttempt)` to drain: one round that fetches and
  * parses every page and dedups their ~15k links against the seen set,
  * then the drain probe. Then K
  * recrawl cycles of `forget(slice)`, `queue(slice)`, `run(onAttempt)`
  * and a `documents()` read, compacting the retired table after every
  * odd cycle, so every even cycle reads a compacted table. At this size
  * the per-round fixed cost (commits, snapshot metadata, driver-only
  * time) dominates the drain as much as the recrawl rounds; frontier
  * dedup at scale is not what it measures. An untimed drain of a smaller
  * web runs first, so the JIT is warm. K follows from the run's seconds,
  * so equal settings give equal work. */
object Crawl {
  /** Every page of `web` that robots allow, public and private, in a
    * seeded order. At the rate limit below each host's quota covers its
    * pages, so a drain is one fetch round and the drain probe, for any
    * seed. */
  def allPages(web: SyntheticWeb, seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle((0 until web.nHosts).flatMap { i =>
      val host = web.hostName(i)
      val rules = web.policy(host).rules
      for {
        dir <- Seq("/p/", "/private/p/")
        j <- 0 until web.pagesOf(host)
        if RobotsMatcher.allows(rules, s"$dir$j")
      } yield s"http://$host$dir$j"
    })

  // no retries: a failed fetch is dropped at once, so a recrawl cycle is
  // one round plus the drain probe rather than a retry tail
  val Options = CrawlerOptions(rateLimitMs = 20000L, numBuckets = 16,
    parseHtml = true, maxRounds = 400, retries = 0)

  /** The engine config the facade builds from [[Options]], for the oracle. */
  val Config = CrawlConfig(numBuckets = Options.numBuckets, roundMs = Options.rateLimitMs,
    maxRounds = Options.maxRounds, maxRetries = Options.retries, parseHtml = true)

  /** One crawler session on one state dir, recording what the layers
    * did. Span names say which layer a call enters; a warm-up session's
    * spans sit under `setup`, so no layer counts them. */
  final class Session(ctx: Ctx, web: SyntheticWeb, warm: Boolean) {
    private def sp(name: String) = if (warm) s"setup.$name" else name
    val dir: String = ctx.freshDir(if (warm) "warm" else "crawl")
    val crawler = new Crawler(ctx.spark, web, dir, Options)
    val firstEvent, eventStream, cycleS, forgetS, compactS, viewsS =
      mutable.ArrayBuffer.empty[Double]
    val rounds = mutable.ArrayBuffer.empty[CrawlEngine#RoundStats]
    var events = 0L

    /** One `run(onAttempt)`: the attempted URLs in callback order and the
      * wall of the call. */
    def run(span: String): (Vector[String], Double) = {
      val seen = Vector.newBuilder[String]
      var first = 0L
      var last = 0L
      val t0 = System.nanoTime()
      val (res, wall) = ctx.tracer.timed(span) {
        crawler.run { e =>
          last = System.nanoTime()
          if (first == 0L) first = last
          seen += e.urlCanon
        }
      }
      val urls = seen.result()
      if (urls.nonEmpty) {
        firstEvent += (first - t0) / 1e9
        eventStream += (last - first) / 1e9
      }
      events += urls.size
      rounds ++= res.stats
      (urls, wall)
    }

    def drain(seeds: Seq[String]): (Vector[String], Double) = {
      crawler.queue(seeds.map(SeedRequest(_))) // buffers; run() flushes
      run(sp("api.drain"))
    }

    /** One recrawl cycle: (forget's count, attempted URLs, cycle wall). */
    def recrawl(slice: Seq[String]): (Long, Vector[String], Double) = {
      var forgot = 0L
      val (urls, t) = ctx.tracer.timed(sp("api.recrawl")) {
        val (n, tf) = ctx.tracer.timed(sp("engine.forget"))(crawler.forget(slice))
        forgot = n
        forgetS += tf
        crawler.queue(slice.map(SeedRequest(_)))
        val (urls, _) = run(sp("api.run"))
        viewsS += ctx.tracer.time(sp("engine.views"))(crawler.engine.documents().count())
        urls
      }
      cycleS += t
      if (cycleS.size % 2 == 1)
        compactS += ctx.tracer.time(sp("engine.compact"))(crawler.engine.compactRetired())
      (forgot, urls, t)
    }
  }

  // ---- oracle checks and layer probes ----

  final case class Digest(n: Long, xor: Long, residues: Long)

  /** Order-free digest of a seen set: size, xor of the hashes, and the
    * sum of their residues mod a prime. */
  def digest(hashes: Iterable[Long]): Digest =
    Digest(hashes.size.toLong, hashes.foldLeft(0L)(_ ^ _),
      hashes.foldLeft(0L)((a, h) => a + java.lang.Math.floorMod(h, 1000003L)))

  def digest(frontier: DataFrame): Digest = {
    val r = frontier.agg(count(lit(1)), bit_xor(col("url_hash")),
      sum(pmod(col("url_hash"), lit(1000003L)))).head()
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Per-round counters the engine and the simulator define alike:
    * (round, admitted, fetchedOk, failed, enqueued). `discovered` is
    * left out: the simulator counts every extracted link, the engine
    * only links that resolve to a URL. Rounds where nothing happened
    * are dropped: the engine ends a drain with one empty probe round
    * the simulator never runs. */
  type Counts = (Long, Long, Long, Long, Long)

  def engineRounds(stats: Seq[CrawlEngine#RoundStats]): Seq[Counts] =
    stats.map(s => (s.round, s.admitted, s.fetchedOk, s.failed, s.enqueued))
      .filter(c => c._2 + c._4 + c._5 > 0)

  def simRounds(sim: RefSimulator.SimResult): Seq[Counts] =
    sim.stats.map(s => (s.round, s.admitted, s.fetchedOk, s.failed, s.enqueued))
      .filter(c => c._2 + c._4 + c._5 > 0)

  def compare[T](what: String, got: T, want: T): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, oracle $want")

  /** Bytes, data files and commits of the five engine tables, read
    * through IceLite's manifests. */
  def stateOf(stateDir: String): (Long, Long, Long) = {
    val ice = new IceLite(stateDir)
    val tables = Seq("frontier", "retired", "attempts", "lineage", "bloom")
    val dataFiles = tables.flatMap(t => ice.currentManifest(t).toSeq.flatMap(_.files))
      .flatMap { d =>
        val p = Paths.get(java.net.URI.create(if (d.contains(":")) d else s"file://$d"))
        if (Files.isDirectory(p))
          Files.walk(p).iterator().asScala.filter(f =>
            Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq
        else Seq(p)
      }
    val commits = tables.flatMap(ice.currentSnapshotId).map(_ + 1).sum
    (dataFiles.map(Files.size).sum, dataFiles.size.toLong, commits)
  }

  /** Single-thread cost of the content functions over a sample of the
    * workload's own URLs: (ns per canonicalize, µs per fetch+extract),
    * each the median of three passes. */
  def coreProbe(ctx: Ctx, web: SyntheticWeb, cfg: CrawlConfig,
      urls: Seq[String]): (Double, Double) = {
    val canon = urls.flatMap(UrlCanonicalizer.canonicalize)
    val canonNs = (1 to 3).map { _ =>
      ctx.tracer.time("core.canonicalize") {
        urls.foreach(UrlCanonicalizer.canonicalize)
      } * 1e9 / urls.size
    }
    val fetchUs = (1 to 3).map { _ =>
      ctx.tracer.time("core.fetch_extract") {
        canon.foreach(u => Fetcher.fetch(web, u, 0, cfg))
      } * 1e6 / canon.size
    }
    (Stats.median(canonNs), Stats.median(fetchUs))
  }

  def run(ctx: Ctx): Unit = {
    val tiny = ctx.s.tiny
    val r = ctx.report
    val web = SyntheticWeb(seed = ctx.s.seed, nHosts = if (tiny) 60 else 300,
      pagesPerHost = 8, megaFactor = 12,
      spanBase = 40, spanRange = 30, wordBase = 8, wordRange = 10)
    val seeds = allPages(web, ctx.s.seed)
    val cycles = ctx.repeats(3.0)
    val sliceSize = seeds.size / 20
    val rnd = new scala.util.Random(ctx.s.seed)

    // untimed warm-up: a drain of a tenth of the web
    val warmWeb = web.copy(nHosts = web.nHosts / 10)
    r.put("setup.warmup_s", ctx.tracer.time("setup.warmup") {
      new Session(ctx, warmWeb, warm = true).drain(allPages(warmWeb, ctx.s.seed))
    }, "s")

    // set-up, five times: open a crawler on a fresh state dir, queue
    // the seeds, fetch a third of them directly (no crawl state), and
    // `CrawlEngine.init` a fresh engine with the seeds
    val initS = mutable.ArrayBuffer.empty[Double]
    val setup = (1 to 5).map { _ =>
      ctx.tracer.time("setup.crawler") {
        val c = new Crawler(ctx.spark, web, ctx.freshDir("setup"), Options)
        c.queue(seeds.map(SeedRequest(_)))
        seeds.take(seeds.size / 3).foreach(c.direct(_))
        val e = new CrawlEngine(ctx.spark, web, Config, ctx.freshDir("init"))
        initS += ctx.tracer.time("setup.engine_init")(e.init(seeds))
      }
    }
    r.put("setup_s", Stats.median(setup), "s")
    val sim = RefSimulator.run(web, seeds, Config)
    val want = digest(sim.seenSet)
    r.put("setup.process_s", Main.processSeconds(), "s")

    val s = new Session(ctx, web, warm = false)
    val (order, drainS) = s.drain(seeds)
    val drainRounds = s.rounds.toList
    val got = digest(s.crawler.engine.frontier())
    val seen = if (ctx.s.fault) got.copy(n = got.n + 1) else got
    r.op("drain", compare("drained", s.crawler.engine.lastRunDrained, true) ++
      compare("round counters", engineRounds(drainRounds), simRounds(sim)) ++
      compare("crawl order", order, sim.crawlOrder) ++
      compare("seen-set digest", seen, want))
    println(f"[drain] wall=$drainS%.3fs attempts=${order.size} rounds=${drainRounds.size}")

    // recrawl slices: seeded samples of the crawled URLs, fixed up front
    val crawled = sim.crawlOrder.distinct
    (1 to cycles).map(_ => rnd.shuffle(crawled).take(sliceSize).sorted).zipWithIndex
      .foreach { case (slice, i) =>
        try {
          val (forgot, attempted, t) = s.recrawl(slice)
          println(f"[cycle] ${i + 1} wall=$t%.3fs forget=${s.forgetS.last}%.3fs " +
            s"attempts=${attempted.size}")
          r.op(s"recrawl ${i + 1}",
            compare("forget count", forgot, slice.size.toLong) ++
              compare("attempted set", attempted.toSet, slice.toSet) ++
              compare("seen-set size", digest(s.crawler.engine.frontier()).n, want.n))
        } catch { case e: Exception => r.threw(s"recrawl ${i + 1}", e) }
      }

    r.put("throughput", s.events / (drainS +: s.cycleS.toSeq).sum, "1/s")
    r.put("start_s", drainS, "s")
    r.put("pass_s_p50", Stats.median(s.cycleS.toSeq), "s")

    r.put("engine.urls_per_s",
      drainRounds.map(x => x.admitted + x.enqueued).sum / drainS, "1/s")
    r.put("engine.init_s", Stats.median(initS.toSeq), "s")
    r.put("engine.round_s", s.firstEvent.sum / math.max(1, s.rounds.size), "s")
    r.put("engine.rounds", s.rounds.size, "count")
    r.put("engine.forget_s", s.forgetS.sum, "s")
    r.put("engine.compact_s", s.compactS.sum, "s")
    r.put("engine.views_s", s.viewsS.sum, "s")
    r.put("api.first_event_s", s.firstEvent.sum, "s")
    r.put("api.event_stream_s", s.eventStream.sum, "s")
    r.put("api.recrawl_total_s", s.cycleS.sum, "s")
    // fixed by the seed, and all but `discovered` checked against the
    // oracle, so not metrics
    println(s"[counts] cycles=${s.cycleS.size} events=${s.events} " +
      s"admitted=${s.rounds.map(_.admitted).sum} discovered=${s.rounds.map(_.discovered).sum} " +
      s"enqueued=${s.rounds.map(_.enqueued).sum} failed=${s.rounds.map(_.failed).sum}")
    // the layer probes feed only per-layer metrics, so an untraced run,
    // which reports the end-to-end ones, skips them
    if (ctx.s.trace) {
      val (bytes, files, commits) = stateOf(s.dir)
      r.put("icelite.open_s",
        ctx.tracer.time("icelite.open")(new Crawler(ctx.spark, web, s.dir, Options)), "s")
      r.put("icelite.state_mb", bytes / 1e6, "MB")
      r.put("icelite.bytes_per_url", bytes.toDouble / math.max(1L, want.n), "B")
      r.put("icelite.files", files, "count")
      r.put("icelite.snapshots", commits, "count")
      val (canonNs, fetchUs) = coreProbe(ctx, web, Config, crawled.take(1000))
      r.put("core.canonicalize_ns", canonNs, "ns")
      r.put("core.fetch_extract_us", fetchUs, "us")
    }
  }
}
