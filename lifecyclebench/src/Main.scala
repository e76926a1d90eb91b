package lifecyclebench

import graft.ops.{DedupOps, GraphOps}
import graft.streaming.StreamOps
import graft.wcd.{Claims, Extract, HashIndex, ReadQueries}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Sizes of one round's phases; a phase sized 0 does not run. */
final case class Mix(importPages: Int = 0, basePages: Int = 0, files: Int = 0, perFile: Int = 0,
    lookups: Int = 0, docs: Int = 0, treeNodes: Int = 0, depth: Int = 0) {
  def runsImport: Boolean = importPages > 0
  def runsIngest: Boolean = files > 0
  def runsDedup: Boolean = docs > 0
  def runsClosure: Boolean = treeNodes > 0

  /** Every phase this mix leaves out, at the size of `small`. */
  def filledFrom(small: Mix): Mix = Mix(
    if (runsImport) importPages else small.importPages,
    if (runsIngest) basePages else small.basePages,
    if (runsIngest) files else small.files,
    if (runsIngest) perFile else small.perFile,
    if (runsIngest) lookups else small.lookups,
    if (runsDedup) docs else small.docs,
    if (runsClosure) treeNodes else small.treeNodes,
    if (runsClosure) depth else small.depth)
}

object Main {
  /** Each workload runs its own phases. */
  val Mixes: Map[String, Mix] = Map(
    "import_snapshot" -> Mix(importPages = 200),
    "live_ingest" -> Mix(basePages = 250, files = 1, perFile = 30, lookups = 40),
    "dedup_graph" -> Mix(docs = 1000, treeNodes = 1000, depth = 10))

  /** Typical seconds of one round on a 4-core machine. A run measures
    * `--seconds` / this many whole rounds (at least one): a fixed count,
    * because rounds keep getting faster for several rounds after the
    * warm-up, and a time-bound loop would let machine speed decide which
    * rounds are measured. */
  val RoundSeconds: Map[String, Double] =
    Map("import_snapshot" -> 7.0, "live_ingest" -> 15.0, "dedup_graph" -> 9.0)

  /** A traced run adds the phases its workload leaves out at this size,
    * so that every layer reports on every workload. */
  val Small = Mix(importPages = 30, basePages = 30, files = 1, perFile = 6,
    lookups = 6, docs = 150, treeNodes = 60, depth = 3)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt.getOrElse("workload", "")
    val mix = Mixes.getOrElse(workload, { System.err.println(s"unknown workload '$workload'"); sys.exit(2) })
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val t0 = opt.get("t0-ms").map(_.toLong * 1000000L - System.currentTimeMillis() * 1000000L + System.nanoTime())
      .getOrElse(System.nanoTime())

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // duplicate template keys fold like a Python dict: last value wins
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try new Run(spark, workload, mix, seed, seconds, traced, work, t0, cores).apply()
      finally spark.stop()
    sys.exit(code)
  }
}

/** Counts operations and failed checks. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch {
      case e: Throwable => System.err.println(s"[check] $what threw: $e"); false
    }
    if (!pass) { failed += 1; System.err.println(s"[check] FAILED: $what") }
  }
}

/** Generated inputs of one mix, written as parquet under `dir`, with the
  * results the program must produce. */
final class Inputs(spark: SparkSession, val mix: Mix, seed: Long, val dir: Path) {
  import spark.implicits._
  val importWiki = new Gen.Wiki(seed, 1, mix.importPages, 1000000L)
  val baseWiki = new Gen.Wiki(seed, 2, mix.basePages, 2000000L)
  val docs: Vector[Gen.Doc] = Gen.docs(seed, mix.docs)
  val (edges, depths) = Gen.tree(seed, mix.treeNodes, mix.depth)

  val importExpect: Gen.Expect = Gen.expect(importWiki.pages)
  val baseExpect: Gen.Expect = Gen.expect(baseWiki.pages)

  def path(name: String): String = dir.resolve(name).toString

  private def pagesDf(ps: Seq[Gen.Page]): DataFrame =
    ps.map(p => (p.pageId, p.title, "en", p.wikitext)).toDF("page_id", "title", "language_code", "wikitext")

  Files.createDirectories(dir)
  if (mix.runsImport) pagesDf(importWiki.pages).write.parquet(path("import_pages"))
  if (mix.runsIngest) pagesDf(baseWiki.pages).write.parquet(path("base_pages"))
  if (mix.runsDedup) docs.map(d => (d.id, d.text)).toDF("doc_id", "text").write.parquet(path("docs"))
  if (mix.runsClosure) edges.toDF("child", "parent").write.parquet(path("edges"))

  /** An event backlog against the base snapshot, one parquet file per
    * micro-batch under `dir/name`, with increasing mtimes so that
    * `maxFilesPerTrigger=1` replays them in order. */
  final class Replay(val name: String, files: Vector[Vector[Gen.Event]],
      ingested: Vector[Gen.Page], val lookups: Int) {
    val events: Int = files.map(_.size).sum
    /** After the replay: the base index plus every ingested page's hashes. */
    val finalHashes: Set[String] = baseExpect.hashes ++ Gen.expect(ingested).hashes
    /** Lookup hits are drawn from here. */
    val hitPool: Vector[String] = finalHashes.toVector.sorted

    files.zipWithIndex.foreach { case (evs, i) =>
      val tmp = dir.resolve(s"${name}_tmp_$i")
      evs.map(e => (e.server, e.namespace, e.title, e.tsMicros, e.pageId, e.wikitext))
        .toDF("server_name", "namespace", "title", "ts_us", "page_id", "wikitext")
        .select(col("server_name"), col("namespace"), col("title"),
          timestamp_micros(col("ts_us")).as("ts"), col("page_id"), col("wikitext"))
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      val dst = Files.createDirectories(dir.resolve(name)).resolve(f"batch_$i%03d.parquet")
      Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
      Run.delete(tmp)
    }
  }

  val replay: Replay = {
    val (files, ingested) = Gen.events(seed, baseWiki, mix.files, mix.perFile, 2900000L)
    new Replay("events", files, ingested, mix.lookups)
  }

  /** The warm-up's backlog: one small file against the same base, so set-up
    * need not land a second snapshot. */
  val warmReplay: Replay = {
    val (files, ingested) = Gen.events(seed + 1, baseWiki, if (mix.runsIngest) 1 else 0, 6, 2950000L)
    new Replay("warm_events", files, ingested, math.min(4, mix.lookups))
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("server_name", StringType), StructField("namespace", IntegerType),
    StructField("title", StringType), StructField("ts", TimestampType),
    StructField("page_id", LongType), StructField("wikitext", StringType)))
}

object Run {
  val RetrievedDate = to_timestamp(lit("2024-01-01 00:00:00"))
  val Threshold = 0.5

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(x => Files.copy(x, to.resolve(from.relativize(x))))
    finally s.close()
  }

  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** What one round measured: seconds per phase, and its own figures. */
final class Round {
  val seconds = mutable.LinkedHashMap.empty[String, Double]
  val batches = mutable.ArrayBuffer.empty[Double]
  val retained = mutable.HashMap.empty[String, Long]
}

final class Run(spark: SparkSession, workload: String, mix: Mix, seed: Long,
    seconds: Double, traced: Boolean, work: Path, t0: Long, cores: Int) {
  import Run._
  private val sc = spark.sparkContext
  private val runId = s"$workload-$seed-${if (traced) "traced" else "plain"}"
  private val tracer = new Tracer(spark, traced, runId)
  private val ops = new Ops

  private def read(p: String): DataFrame = spark.read.parquet(p)

  /** Drop every cached and checkpointed block, so no repetition is served
    * by what an earlier one left behind. */
  private def reset(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def persistedIds(): Set[Int] = sc.getPersistentRDDs.keySet.toSet

  private def cachedBytes(ids: Set[Int]): Long =
    sc.getRDDStorageInfo.filter(i => ids(i.id)).map(i => i.memSize + i.diskSize).sum

  /** Land a previous snapshot: references, claims, the hash index and the
    * page-content hashes the change gate compares against. */
  private def landBase(in: Inputs): Unit = if (in.mix.runsIngest) {
    val pages = read(in.path("base_pages"))
    Extract.references(pages).write.parquet(in.path("base_refs"))
    val refs = read(in.path("base_refs"))
    Claims.allClaims(pages, refs, RetrievedDate).write.parquet(in.path("base_claims"))
    val (minted, _) = HashIndex.merge(HashIndex.empty(spark),
      refs.select(col("md5hash").as("hash")), "wikipedia_reference")
    HashIndex.append(minted, in.path("base_index"))
    pages.select(col("page_id"), md5(col("wikitext")).as("page_content_hash"))
      .write.parquet(in.path("base_page_hashes"))
    ops.check("base index holds every planted hash") {
      read(in.path("base_index")).count() == in.baseExpect.hashes.size
    }
  }

  /** pages → references. Traced, each layer's output is materialized so
    * that its span holds its own work. */
  private def references(pages: DataFrame): DataFrame =
    if (!traced) Extract.references(pages)
    else {
      val t = tracer.span("parse.templates")(materialize(Extract.templates(pages)))
      val e = tracer.span("extract.enrich") {
        val k = Extract.withUnknownKeys(t)
        materialize(Extract.enrich(Extract.widen(k.filter(size(col("unknown_keys")) === 0))
          .drop("unknown_keys")))
      }
      tracer.span("extract.dedup")(materialize(Extract.dedupInPage(e)))
    }

  private def materialize(df: DataFrame): DataFrame = {
    val m = df.localCheckpoint(eager = true)
    tracer.rows(m.count())
    m
  }

  /** One round over `in`, in `dir`: every phase its mix sizes above 0. */
  private def round(in: Inputs, dir: Path, warm: Boolean = false): Round = {
    delete(dir); Files.createDirectories(dir)
    val out = new Round
    def timed[T](phase: String)(body: => T): T = {
      val s = System.nanoTime()
      try body finally out.seconds(phase) = (System.nanoTime() - s) / 1e9
    }
    val retainedIds = mutable.HashMap.empty[String, Set[Int]].withDefaultValue(Set.empty)
    def retaining[T](span: String)(body: => T): T = {
      val before = persistedIds()
      try tracer.span(span)(body)
      finally retainedIds.synchronized { retainedIds(span) ++= persistedIds() -- before }
    }
    def p(name: String) = dir.resolve(name).toString

    if (in.mix.runsImport) {
      // references → land → claims → land → merge into an empty index, twice
      val pages = read(in.path("import_pages"))
      timed("import") {
        val refsOut = references(pages)
        tracer.span("extract.dedup")(refsOut.write.parquet(p("refs")))
        val refs = read(p("refs"))
        retaining("claims.project")(Claims.allClaims(pages, refs, RetrievedDate).write.parquet(p("claims")))
        (1 to 2).foreach { _ =>
          tracer.span("hashindex.merge") {
            val (minted, _) = HashIndex.merge(HashIndex.load(spark, p("index")),
              refs.select(col("md5hash").as("hash")), "wikipedia_reference")
            HashIndex.append(minted, p("index"))
          }
        }
      }
      val ex = in.importExpect
      ops.check("import: reference rows per page") {
        val per = read(p("refs")).groupBy("page_id").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
        per.values.map(_.toLong).sum == ex.refRows && ex.perPage.filter(_._2 > 0) == per
      }
      ops.check("import: distinct reference hashes") {
        read(p("refs")).where(col("md5hash").isNotNull).select("md5hash").distinct()
          .collect().map(_.getString(0)).toSet == ex.hashes
      }
      ops.check("index: one minted id per distinct hash, none from the second merge") {
        val idx = read(p("index"))
        idx.count() == ex.hashes.size &&
          idx.where(col("qid") =!= concat(lit("WCD"), upper(substring(col("hash"), 1, 16)))).isEmpty
      }

      // read-back: statistics and class counts, the median of three reads
      val claims = read(p("claims"))
      val reads = (1 to 3).map { _ =>
        val s0 = System.nanoTime()
        val sc = tracer.span("read.stats") {
          val s = ReadQueries.propertyStatistics(claims).collect()
          val c = ReadQueries.classCounts(claims).collect()
          tracer.rows(s.length + c.length)
          (s, c)
        }
        (sc, (System.nanoTime() - s0) / 1e9)
      }
      out.seconds("stats") = median(reads.map(_._2))
      val (stats, classes) = reads.head._1
      ops.check("statistics: HASH and INSTANCE_OF counts, class counts") {
        val n = in.importWiki.pages.size.toLong; val w = ex.websites.size.toLong
        val st = stats.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        val cl = classes.map(r => r.getString(0) -> r.getLong(1)).toMap
        st("HASH") == ((ex.hashes.size + n + w, ex.hashedRows + n + w)) &&
          st("INSTANCE_OF")._2 == ex.hashedRows + n + w &&
          cl == Map(Claims.WikipediaReference -> ex.hashedRows, Claims.WikipediaPage -> n,
            Claims.WebsiteItem -> w).filter(_._2 > 0)
      }
    }

    if (in.mix.runsIngest) {
      // replay the event backlog against the base snapshot, one file per batch
      copyTree(in.dir.resolve("base_index"), dir.resolve("live_index"))
      copyTree(in.dir.resolve("base_claims"), dir.resolve("live_claims"))
      val rp = if (warm) in.warmReplay else in.replay
      val prevHashes = read(in.path("base_page_hashes"))
      val before = tracer.progress.size
      timed("replay") {
        tracer.span("streaming.batch") {
          val stream = spark.readStream.schema(in.eventSchema)
            .option("maxFilesPerTrigger", "1").parquet(in.path(rp.name))
          val q = StreamOps.recentChangeDedup(stream, boundedState = true)
            .writeStream
            .option("checkpointLocation", p("stream_checkpoint"))
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: DataFrame, _: Long) =>
              val b = batch.select("page_id", "title", "language_code", "wikitext").persist()
              // the final trigger of a replay carries no rows (it only
              // advances the watermark); a batch with nothing admitted
              // has nothing to ingest
              try if (!b.isEmpty) {
                val changed = tracer.span("extract.changed") {
                  val c = Extract.changedPages(b, "page_id", col("wikitext"), prevHashes)
                  if (traced) materialize(c) else c
                }
                // traced, the split pass is extra: merge and claims still
                // take the un-landed lineage, as an untraced batch does
                if (traced) references(changed)
                val refs = Extract.references(changed)
                tracer.span("hashindex.merge") {
                  val (minted, _) = HashIndex.merge(read(p("live_index")),
                    refs.select(col("md5hash").as("hash")), "wikipedia_reference")
                  HashIndex.append(minted, p("live_index"))
                }
                retaining("claims.project") {
                  Claims.allClaims(changed, refs, RetrievedDate)
                    .write.mode(SaveMode.Append).parquet(p("live_claims"))
                }
              } finally b.unpersist(blocking = true)
              ()
            }
            .start()
          tracer.adoptGroup(q.runId.toString)
          q.awaitTermination()
          tracer.awaitStreamEvents(q.runId)
        }
      }
      out.batches ++= tracer.progress.asScala.drop(before).map(_.trigger / 1000.0)
      ops.check("ingest: index equals the base hashes plus the admitted edits") {
        val hs = read(p("live_index")).select("hash").collect().map(_.getString(0))
        hs.length == rp.finalHashes.size && hs.toSet == rp.finalHashes
      }

      // point reads: one closed-loop client, hits and misses
      val live = read(p("live_claims"))
      val r = Gen.rng(seed, 131)
      timed("lookups") {
        (0 until rp.lookups).foreach { i =>
          val miss = i % 4 == 3
          val h = if (miss) Gen.md5Hex(s"miss-$seed-$i") else rp.hitPool(r.nextInt(rp.hitPool.size))
          val fetch = i % 2 == 1
          val rows = tracer.span("read.lookup") {
            val rs =
              if (fetch) ReadQueries.fetchItem(live, h).select("item_id", "property", "value_str").collect()
              else ReadQueries.lookupHash(live, h).collect()
            tracer.rows(rs.length); rs
          }
          ops.check(s"lookup ${if (fetch) "fetchItem" else "lookupHash"} ${if (miss) "miss" else "hit"} $h") {
            if (miss) rows.isEmpty
            else if (fetch) rows.nonEmpty && rows.forall(_.getString(0) == h) &&
              rows.exists(x => x.getString(1) == "HASH" && x.getString(2) == h)
            else rows.nonEmpty && rows.forall(x => x.getString(0) == h && x.getString(1) == "wikipedia_reference")
          }
        }
      }
    }

    if (in.mix.runsDedup) {
      // near-duplicate pairs, then their connected components
      val docsDf = read(in.path("docs"))
      val (pairs, comps) = timed("dedup") {
        val pr = retaining("dedup.minhash") {
          val x = DedupOps.minhashLshPairs(docsDf, "doc_id", col("text"), Threshold).collect()
          tracer.rows(x.length); x
        }
        val c = tracer.span("dedup.cc") {
          val pairDf = spark.createDataFrame(java.util.Arrays.asList(pr: _*), StructType(Seq(
            StructField("id_x", LongType), StructField("id_y", LongType), StructField("jaccard", DoubleType))))
          val x = DedupOps.connectedComponents(docsDf.select("doc_id"), "doc_id", pairDf).collect()
          tracer.rows(x.length); x
        }
        (pr, c)
      }
      ops.check("dedup: every pair's Jaccard recomputed, no cluster spans two planted clusters") {
        val byId = in.docs.map(d => d.id -> d).toMap
        val sh = mutable.HashMap.empty[Long, Set[String]]
        def s(id: Long) = sh.getOrElseUpdate(id, Gen.shingles(byId(id).text))
        val pairsOk = pairs.forall { row =>
          val j = Gen.jaccard(s(row.getLong(0)), s(row.getLong(1)))
          j >= Threshold && math.abs(j - row.getDouble(2)) < 1e-9
        }
        pairsOk && comps.length == in.docs.size &&
          comps.groupBy(_.getLong(1)).values.forall(m => m.map(x => byId(x.getLong(0)).cluster).distinct.size == 1)
      }
    }

    if (in.mix.runsClosure) {
      // the category scan: every (node, ancestor) pair of the tree
      val edgesDf = read(in.path("edges"))
      val anc = timed("closure") {
        tracer.span("graph.closure") {
          val x = GraphOps.transitiveClosure(edgesDf).groupBy("node").count().collect()
          tracer.rows(x.length); x
        }
      }
      ops.check("closure: each node's ancestor count equals its depth") {
        anc.map(x => x.getLong(0) -> x.getLong(1).toInt).toMap == in.depths.filter(_._2 > 0)
      }
    }

    retainedIds.foreach { case (k, ids) => out.retained(k) = cachedBytes(ids) }
    System.err.println(s"[round] ${out.seconds.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")}" +
      s" batches=${out.batches.map(b => f"$b%.3f").mkString(",")}")
    out
  }

  def apply(): Int = {
    // traced, the phases this workload leaves out run at the small size
    val m = if (traced) mix.filledFrom(Main.Small) else mix
    Files.createDirectories(work)
    def mark(what: String): Unit = System.err.println(f"[setup] $what at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    mark("session")
    val in = new Inputs(spark, m, seed, work.resolve("inputs"))
    mark("inputs")
    landBase(in)
    reset()
    mark("base snapshot")
    // warm-up: two untimed rounds of the same shape (short replays for
    // ingest) absorb JIT and codegen; the first round after a single one
    // still ran 10-20 % slower. reset() drops what they left.
    (1 to 2).foreach { _ => round(in, work.resolve("round"), warm = true); reset() }
    val setupS = (System.nanoTime() - t0) / 1e9
    mark("warm-up")

    tracer.activate()
    val progress0 = tracer.progress.size
    // a traced run's per-layer figures are per round; one round keeps it short
    val count = if (traced) 1 else math.max(1, math.round(seconds / Main.RoundSeconds(workload)).toInt)
    val rounds = (1 to count).map { _ =>
      val r = round(in, work.resolve("round")); reset(); r
    }
    tracer.flush()

    def phase(name: String) = median(rounds.map(_.seconds(name)))
    val env = s"""{"workload":${Json.str(workload)},"seed":$seed,"trace":${if (traced) 1 else 0},""" +
      s""""cores":$cores,"heap_max_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
      s""""spark_version":${Json.str(spark.version)},"setup_s":${Json.num(setupS)},"rounds":${rounds.size},""" +
      s""""phase_median_s":{${rounds.head.seconds.keys.map(k => s"${Json.str(k)}:${Json.num(phase(k))}").mkString(",")}},""" +
      s""""batch_s":[${rounds.flatMap(_.batches).map(Json.num).mkString(",")}],""" +
      s""""conf":{${spark.conf.getAll.toSeq.sorted.filter(_._1.startsWith("spark.")).map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")}}}"""
    println(env)

    val n = rounds.size.toDouble
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val (items, itemPhase, readback) = workload match {
          case "import_snapshot" => (in.importExpect.refRows.toDouble, "import", "stats")
          case "live_ingest" => (in.replay.events.toDouble, "replay", "lookups")
          case _ => (in.docs.size.toDouble, "dedup", "closure")
        }
        Seq(
          ("setup_s", setupS, "s"),
          ("items_per_s", median(rounds.map(r => items / r.seconds(itemPhase))), "items/s"),
          ("readback_s", phase(readback), "s"))
      } else {
        val batches = tracer.progress.asScala.drop(progress0).toVector
        val ls = tracer.layers()
        val perLayer = Tracer.Spans.flatMap { name =>
          val l = ls.getOrElse(name, tracer.emptyLayer)
          val c = l.c
          Seq(
            (s"$name.self_s", l.selfS / n, "s"),
            (s"$name.plan_s", c.planMs / 1000.0 / n, "s"),
            (s"$name.jobs", c.jobs / n, "count"),
            (s"$name.tasks", c.tasks / n, "count"),
            (s"$name.exec_cpu_s", c.cpuNs / 1e9 / n, "s"),
            (s"$name.shuffle_write_mb", c.shuffleWrite / 1e6 / n, "MB"),
            (s"$name.spill_mb", c.spill / 1e6 / n, "MB"),
            (s"$name.rows_out", c.rowsOut / n, "rows"),
            (s"$name.parallel_eff", if (l.selfS > 0) c.runMs / 1000.0 / (l.selfS * cores) else 0.0, "ratio"))
        }
        val lookupRecords = ls.get("read.lookup").map(_.c.recordsRead).getOrElse(0L)
        def ret(span: String) = rounds.map(_.retained.getOrElse(span, 0L)).sum / 1e6 / n
        perLayer ++ Seq(
          ("streaming.batch.batches", batches.size / n, "count"),
          ("streaming.batch.add_batch_s", batches.map(_.addBatch).sum / 1000.0 / n, "s"),
          ("streaming.batch.query_planning_s", batches.map(_.planning).sum / 1000.0 / n, "s"),
          ("streaming.batch.wal_commit_s", batches.map(_.wal).sum / 1000.0 / n, "s"),
          ("read.lookup.records_read_per_lookup", lookupRecords / (m.lookups * n), "records"),
          ("claims.project.retained_storage_mb", ret("claims.project"), "MB"),
          ("dedup.minhash.retained_storage_mb", ret("dedup.minhash"), "MB"),
          ("jvm.peak_rss_mb", peakRssMb(), "MB"))
      }
    if (traced) tracer.write(work.getParent.resolve("traces").resolve(s"$runId.json"), env)
    tracer.close()
    val correct = ops.failed == 0
    val body = metrics.map { case (k, v, u) => s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
    println(s"""{"correct":$correct,"attempted":${ops.attempted},"failed":${ops.failed},"metrics":{${body.mkString(",")}}}""")
    if (correct) 0 else 1
  }
}
