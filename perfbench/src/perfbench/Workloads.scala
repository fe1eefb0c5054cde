package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.ext.{Dedup, TextAnalysis}
import graft.operators.Graph
import graft.soccer.{Features, Schemas, SoccerMl, SoccerPredictor}
import graft.sources.v2.GraftStoreOps
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import Main.{Ctx, Named, Outcome}

object Workloads {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.toSeq.foreach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    }

  def fileSizes(p: String): Map[Path, Long] =
    Files.walk(Paths.get(p)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f -> Files.size(f)).toMap

  /** Writes the four reference tables of a generated league. */
  def writeLeague(ctx: Ctx, l: Gen.League, dir: String): Unit = {
    ctx.write(l.teams, Schemas.teamList, s"$dir/team_list")
    ctx.write(l.games, Schemas.gameRecord, s"$dir/game_record")
    ctx.write(l.odds, Schemas.gameOdds, s"$dir/game_odds")
    ctx.write(l.overUnder, Schemas.gameOverUnder, s"$dir/game_overunder")
  }

  /** The bookmakers a model was trained on, read back from its persisted
    * VectorAssembler (`{value}_{hg}_{company}` input columns). */
  def modelCompanies(model: PipelineModel): Seq[String] = {
    val values = (Features.oddsValueCols ++ Features.ouValueCols).sortBy(-_.length)
    model.stages.collectFirst { case a: VectorAssembler => a }.get.getInputCols.toSeq.map { c =>
      val v = values.find(v => c.startsWith(v + "_")).get
      c.drop(v.length + 1).dropWhile(_.isDigit).stripPrefix("_")
    }.distinct
  }
}

import Workloads._

/** Trains one (team, home/away, kind) model. Untraced runs call the
  * `SoccerPredictor` facade; traced runs make the same calls the facade
  * makes, each under its layer's span, forcing the training set at the
  * `features` boundary. Returns whether the training set matched the
  * generator (checked untimed in untraced runs). */
final class Trainer(ctx: Ctx, league: Gen.League, data: String, models: String) {
  private val predictor = new SoccerPredictor(ctx.spark, data, models)
  private def table(n: String): DataFrame = ctx.spark.read.parquet(s"$data/$n")

  private def trainingSet(kind: String, name: String, hg: Int): DataFrame =
    if (kind == "flat") Features.flatTrainingSet(table("game_record"), table("game_odds"), name, hg)
    else Features.overUnderTrainingSet(
      table("game_record"), table("game_odds"), table("game_overunder"), name, hg)

  def expectedRows(kind: String, name: String, hg: Int): Int =
    if (kind == "flat") Oracle.flatRows(league, name, hg) else Oracle.overUnderRows(league, name, hg)

  /** Returns the training-set rows when the traced path counted them, and
    * the wall ms of the call. */
  def train(t: Int, hg: Int, kind: String, maxIter: Int): (Option[Long], Double) = {
    val (name, id) = (league.teamName(t), league.teamId(t))
    ctx.trace match {
      case None =>
        val (acc, ms) = timed(
          if (kind == "flat") predictor.trainFlat(name, id, hg, maxIter)
          else predictor.trainOverUnder(name, id, hg, maxIter))
        ctx.check(acc >= 0 && acc <= 1, s"$kind accuracy $acc for $name/$hg")
        (None, ms)
      case Some(_) =>
        timed {
          val games = Features.gamesForTeam(table("game_record"), name, hg)
          val src = table(if (kind == "flat") "game_odds" else "game_overunder")
          ctx.span("features.topCompanies")(Features.topCompanies(src.join(games, Seq("id"), "left_semi")))
          val ts = ctx.span("features.trainingSet") {
            val df = trainingSet(kind, name, hg).persist(StorageLevel.MEMORY_ONLY)
            df.count()
            df
          }
          try {
            val res = ctx.span("ml.train")(SoccerMl.train(ts, kind, kind == "flat", maxIter))
            ctx.span("ml.save")(SoccerMl.save(res.model, SoccerMl.modelPath(models, id, hg, kind)))
            Some(res.nTrain + res.nTest)
          } finally ts.unpersist()
        }
    }
  }

  /** Checks the training set's row count against the generator's, counting
    * it (untimed) when the training did not. */
  def checkRows(t: Int, hg: Int, kind: String, counted: Option[Long]): Boolean = {
    val name = league.teamName(t)
    val (want, n) = (expectedRows(kind, name, hg), counted.getOrElse(trainingSet(kind, name, hg).count()))
    ctx.check(n == want, s"$kind training set for $name/$hg has $n rows, generator says $want")
  }

  def checked(t: Int, hg: Int, kind: String, maxIter: Int): (Boolean, Double) = {
    val (n, ms) = train(t, hg, kind, maxIter)
    (checkRows(t, hg, kind, n), ms)
  }
}

/** Closed loop of two clients calling `SoccerPredictor.predictFlat` on
  * Zipf-skewed (team, home) model keys. Set-up writes the league, trains one
  * model through the facade and publishes it under every served key:
  * request cost does not depend on which model is loaded, and training one
  * model per key would not fit the run's time. The set-up runs once: a
  * training takes about ten seconds even warm, and repeating it would not
  * fit the run's time either. */
final class PredictServe(ctx: Ctx) extends Workload {
  override val setupRepeats = 1
  val clients = 2
  val servedKeys = 16
  val serveIters = 1 // load and predict cost do not depend on tree count
  val zipfS = 1.1
  val hg = 0
  val warmupPerClient = 4
  private lazy val league = Gen.league(ctx.seed)
  // team index per key, hottest first
  private lazy val served = new Random(ctx.seed ^ 0x5e7e)
    .shuffle((0 until league.params.teams).toIndexedSeq).take(servedKeys)
  private lazy val expected = Oracle.recentComplete(league.odds,
    Oracle.flatCompanies(league, league.teamName(served.head), hg), Gen.cutoff)
  private var data: String = _
  private var models: String = _
  private var predictor: SoccerPredictor = _
  private var trained: () => Boolean = _

  def setup(repeat: Int): Unit = {
    val source = served.head
    if (repeat == 0) ctx.info(s"inputs league ${league.params.describe} served_keys=$servedKeys hg=$hg " +
      s"trained_team=${league.teamId(source)} serve_max_iter=$serveIters clients=$clients zipf_s=$zipfS")
    data = ctx.dir(s"league$repeat")
    models = ctx.dir(s"models$repeat")
    predictor = new SoccerPredictor(ctx.spark, data, models)
    ctx.phase("write")(writeLeague(ctx, league, data))
    val trainer = new Trainer(ctx, league, data, models)
    val (rows, _) = ctx.phase("train")(trainer.train(source, hg, "flat", serveIters))
    trained = () => trainer.checkRows(source, hg, "flat", rows)
    val src = Paths.get(SoccerMl.modelPath(models, league.teamId(source), hg, "flat"))
    served.tail.foreach(t => copyTree(src, Paths.get(SoccerMl.modelPath(models, league.teamId(t), hg, "flat"))))
  }

  // the same two-client loop; request latency keeps falling over the first
  // requests of a JVM while the JIT compiles the hot paths
  def warmup(): Unit = {
    trained()
    loop(Long.MaxValue, _ >= warmupPerClient, ~ctx.seed)
  }

  private def request(i: Int): Boolean = {
    val id = league.teamId(served(i))
    val rows = ctx.trace match {
      case None => predictor.predictFlat(id, hg).collect()
      case Some(_) => ctx.span("soccer.predictFlat") {
        val model = ctx.span("ml.load")(SoccerMl.load(SoccerMl.modelPath(models, id, hg, "flat")))
        val feats = ctx.span("features.inference") {
          val f = Features.inferenceFeatures(ctx.spark.read.parquet(s"$data/game_odds"),
            modelCompanies(model), Features.oddsValueCols, hg, Gen.cutoff)
            .na.drop("any").persist(StorageLevel.MEMORY_ONLY)
          f.count()
          f
        }
        try ctx.span("ml.predict")(SoccerMl.predict(model, feats).collect())
        finally feats.unpersist()
      }
    }
    val ids = rows.map(_.getString(0)).toSet
    ctx.check(ids.size == rows.length && ids == expected,
      s"predictFlat($id, $hg) returned ${rows.length} rows, ${ids.size} distinct ids; " +
        s"expected ${expected.size} recent complete games") &
      ctx.check(rows.forall(r => Set(0.0, 1.0, 2.0)(r.getDouble(1))),
        s"predictFlat($id, $hg) returned a prediction outside the three classes")
  }

  /** Both clients in a closed loop until `stop(requests this client has
    * made)` or the deadline; returns (latencies, seconds to the last reply). */
  private def loop(deadline: Long, stop: Int => Boolean, seedBase: Long): (Seq[Double], Double) = {
    val cdf = {
      val w = served.indices.map(i => math.pow(i + 1, -zipfS))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    val lat = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())
    val t0 = System.nanoTime()
    val lastDone = new java.util.concurrent.atomic.AtomicLong(t0)
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val r = new Random(seedBase * 31 + c)
        var n = 0
        while (System.nanoTime() < deadline && !stop(n)) {
          val u = r.nextDouble()
          val (_, ms) = timed(ctx.op(request(cdf.indexWhere(_ >= u) max 0)))
          lat.add(ms)
          n += 1
          lastDone.accumulateAndGet(System.nanoTime(), math.max)
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (lat.asScala.toSeq, (lastDone.get - t0) / 1e9)
  }

  def run(): Outcome = {
    val (xs, elapsed) = loop(ctx.deadline, _ => false, ctx.seed)
    val rps = xs.size / elapsed
    val extras = ctx.trace.map { t =>
      Map("ml.load.share" -> t.totalWallMs("ml.load") / t.totalWallMs("soccer.predictFlat"))
    }.getOrElse(Map.empty)
    Outcome(xs, rps, extras,
      Main.latencyNamed("predict", xs) :+ Named("predict_rps", rps, "1/s", xs.size))
  }
}

/** Per run: `trainFlat` and `trainOverUnder` for seeded (team, home/away)
  * pairs, repeated until the run time is used. Not among the
  * workloads in BENCHMARK.json (one pair takes tens of seconds); run it by
  * hand. */
final class TrainLeague(ctx: Ctx) extends Workload {
  val maxIter = 20
  private lazy val league = Gen.league(ctx.seed)
  private lazy val pairs: Iterator[(Int, Int)] = {
    val r = new Random(ctx.seed ^ 0x7a1e)
    Iterator.continually(r.shuffle((0 until league.params.teams).flatMap(t => Seq((t, 0), (t, 1)))))
      .flatten
  }
  private var trainer: Trainer = _

  def setup(repeat: Int): Unit = {
    if (repeat == 0) ctx.info(s"inputs league ${league.params.describe} max_iter=$maxIter max_depth=2 step=0.1")
    val data = ctx.dir(s"league$repeat")
    ctx.phase("write")(writeLeague(ctx, league, data))
    trainer = new Trainer(ctx, league, data, ctx.dir(s"models$repeat"))
  }

  // the first, cold fit is much slower; tree count does not change what warms up
  def warmup(): Unit = {
    val (t, hg) = pairs.next()
    Seq("flat", "overunder").foreach(k => trainer.checked(t, hg, k, 1))
  }

  def run(): Outcome = {
    val end = ctx.deadline
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (times.isEmpty || System.nanoTime() < end) {
      val (t, hg) = pairs.next()
      var ms = 0.0
      ctx.op(Seq("flat", "overunder").map { k =>
        val (ok, m) = trainer.checked(t, hg, k, maxIter)
        ms += m
        ok
      }.forall(identity))
      times += ms
    }
    val extras = ctx.trace.map(t => "ml.train.share" -> t.totalWallMs("ml.train") / times.sum).toMap
    Outcome(times.toSeq, 2 * times.size / (times.sum / 1e3), extras,
      Seq(Named("train_s", Main.percentile(times.toSeq, 50) / 1e3, "s", times.size)))
  }
}

/** One client writing scrape batches into a merge-on-read graft-store
  * table, reading back through the inference pivot after every batch and
  * purging deletes every few batches. */
final class OddsIngest(ctx: Ctx) extends Workload {
  val purgeEvery = 4
  val warmupBatches = 4
  val readWindow = 300 // recent games covered by each read-after-write pivot
  private var store: String = _
  private var stream: Gen.IngestStream = _
  private var companies: Seq[String] = _
  private val key = Seq("id", "odds_company")

  private def df(rows: Seq[Array[String]]): DataFrame =
    ctx.spark.createDataFrame(rows.map(a => Row.fromSeq(a.toSeq)).asJava, Schemas.gameOdds)

  def setup(repeat: Int): Unit = {
    stream = new Gen.IngestStream(ctx.seed, Gen.IngestParams())
    if (repeat == 0) ctx.info(s"inputs ingest ${stream.p.describe} purge_every=$purgeEvery " +
      s"read_window=$readWindow warmup_batches=$warmupBatches")
    val initial = stream.initial()
    companies = Oracle.topCompanies(initial)
    store = ctx.dir(s"game_odds_store$repeat")
    ctx.phase("write")(df(initial).repartitionByRange(ctx.cores, col("id"))
      .write.format("graft-store").option("dmlMode", "mor").mode("overwrite").save(store))
  }

  def warmup(): Unit = {
    (1 to warmupBatches).foreach(i => batch(purge = i % purgeEvery == 0))
  }

  private final case class BatchStats(ok: Boolean, rows: Int, upsertMs: Double, readMs: Double,
      purgeMs: Option[Double], slices: Long, written: Long)

  private def batch(purge: Boolean = false): BatchStats = {
    val rows = stream.batch()
    val src = df(rows)
    val before = fileSizes(store)
    val ((n, _), upMs) = timed(ctx.span("store.upsert")(GraftStoreOps.upsertMor(ctx.spark, store, src, key)))
    val upserted = ctx.check(n == rows.size, s"upsertMor reported $n rows for a batch of ${rows.size}")
    val cut = stream.recentCutoff(readWindow)
    val slices0 = GraftStoreOps.scannedFileSlices
    val (got, readMs) = timed(ctx.span("store.read") {
      Features.inferenceFeatures(ctx.spark.read.format("graft-store").load(store),
        companies, Features.oddsValueCols, 0, cut).na.drop("any").select("id").collect()
    })
    val slices = GraftStoreOps.scannedFileSlices - slices0
    val want = Oracle.recentComplete(stream.live.values.filter(_(0).toInt > cut), companies, cut)
    val read = ctx.check(got.map(_.getString(0)).toSet == want && got.length == want.size,
      s"read-after-write returned ${got.length} games, generator says ${want.size}")
    val purgeMs = if (purge) Some(timed(ctx.span("store.purge")(GraftStoreOps.purgeDeletes(ctx.spark, store)))._2)
      else None
    val written = fileSizes(store).collect { case (f, s) if !before.contains(f) => s }.sum
    BatchStats(upserted && read, rows.size, upMs, readMs, purgeMs, slices, written)
  }

  def run(): Outcome = {
    val end = ctx.deadline
    val parse0 = GraftStoreOps.manifestParseBytes
    val stats = scala.collection.mutable.ArrayBuffer.empty[BatchStats]
    var batches = 0
    while (batches == 0 || System.nanoTime() < end) {
      batches += 1
      ctx.op {
        val s = batch(purge = batches % purgeEvery == 0)
        stats += s
        s.ok
      }
    }
    val parsed = GraftStoreOps.manifestParseBytes - parse0
    // final content: the generator's latest-wins map, by count and hash
    val live = stream.live.values.toSeq
    val (n, h) = Oracle.contentHash(ctx.spark.read.format("graft-store").load(store)
      .select(Schemas.gameOdds.fieldNames.map(col).toSeq: _*).collect().iterator
      .map(r => (0 until r.length).map(r.getString)))
    val (wn, wh) = Oracle.contentHash(live.iterator.map(_.toSeq))
    ctx.check(n == wn && h == wh, s"store holds $n rows (hash $h), generator's latest-wins map $wn (hash $wh)")
    val logical = live.map(_.map(c => if (c == null) 0 else c.length).sum.toLong).sum
    val amp = fileSizes(store).values.sum.toDouble / logical
    val reads = stats.map(_.readMs).toSeq
    val rowsPerS = stats.map(_.rows).sum / (stats.map(_.upsertMs).sum / 1e3)
    val extras = Map(
      "store.scan.file_slices" -> stats.map(_.slices).sum.toDouble / stats.size,
      "store.manifest_parse_bytes" -> parsed.toDouble / stats.size,
      "store.bytes_written" -> stats.map(_.written).sum.toDouble / stats.size,
      "store.space_amp" -> amp)
    Outcome(reads, rowsPerS, extras,
      Named("ingest_rows_per_s", rowsPerS, "1/s", stats.size) +:
        (Main.latencyNamed("ingest_read", reads) ++ Seq(
          Named("store_space_amp", amp, "ratio", 1),
          Named("upsert_p50_ms", Main.percentile(stats.map(_.upsertMs).toSeq, 50), "ms", stats.size)) ++
          Main.latencyNamed("purge", stats.flatMap(_.purgeMs).toSeq)))
  }
}

/** MinHash-LSH near-duplicate clustering plus quality scoring over a
  * generated corpus with planted near-duplicate clusters. */
final class DedupCorpus(ctx: Ctx) extends Workload {
  val (numHashes, rowsPerBand, shingleN, minJaccard) = (32, 2, 3, 0.5)
  private lazy val corpus = Gen.corpus(ctx.seed)
  private var path: String = _
  private val useful = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def write(c: Gen.Corpus, dir: String): Unit =
    ctx.spark.createDataFrame(c.docs.map { case (i, t) => Row(i, t) }.asJava,
      org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING"))
      .coalesce(1).write.mode("overwrite").parquet(dir)

  def setup(repeat: Int): Unit = {
    if (repeat == 0) ctx.info(s"inputs corpus ${corpus.params.describe} num_hashes=$numHashes " +
      s"rows_per_band=$rowsPerBand shingle_n=$shingleN min_jaccard=$minJaccard")
    path = ctx.dir(s"corpus$repeat")
    ctx.phase("write")(write(corpus, path))
  }

  // on a small corpus: the same plans compile and the same code warms up, at
  // a fraction of a full pass
  def warmup(): Unit = {
    val small = Gen.corpus(ctx.seed + 1, Gen.CorpusParams(docs = 200, clusters = 8))
    write(small, ctx.dir("corpus_warmup"))
    ctx.check(pass(ctx.dir("corpus_warmup"), small), "warm-up pass")
  }

  private def pass(path: String, corpus: Gen.Corpus): Boolean = {
    val docs = ctx.spark.read.parquet(path)
    val (labels, quality) = ctx.trace match {
      case None =>
        (Dedup.nearDupClusters(docs, "doc_id", "text", numHashes, rowsPerBand, shingleN, minJaccard)
          .collect(), TextAnalysis.withQuality(docs, "text").select("doc_id", "quality_score").collect())
      case Some(_) =>
        val cands = ctx.span("ext.candidates") {
          Dedup.candidatePairs(Dedup.bandHashes(Dedup.withMinHash(docs, "text", numHashes, shingleN),
            numHashes, rowsPerBand).select("doc_id", "band_id", "band_hash"), "doc_id").count()
        }
        val pairs = ctx.span("ext.nearDupPairs")(
          Dedup.nearDupPairs(docs, "doc_id", "text", numHashes, rowsPerBand, shingleN, minJaccard))
        try {
          if (ctx.measuring) useful += pairs.count().toDouble / math.max(1L, cands)
          (ctx.span("graph.components")(Graph.connectedComponentsStars(docs.select(col("doc_id").as("id")),
            pairs.select(col("id1").as("src"), col("id2").as("dst"))).collect()),
            ctx.span("ext.quality")(TextAnalysis.withQuality(docs, "text")
              .select("doc_id", "quality_score").collect()))
        } finally pairs.unpersist()
    }
    val problems = Oracle.clustersMatch(corpus.clusterOf,
      labels.map(r => r.getLong(0) -> r.getLong(1)).toMap)
    problems.foreach(p => ctx.check(ok = false, p))
    problems.isEmpty &
      ctx.check(quality.length == corpus.docs.size &&
        quality.forall(r => !r.isNullAt(1) && r.getDouble(1) >= 0 && r.getDouble(1) <= 1),
        s"quality scored ${quality.length} of ${corpus.docs.size} documents or left [0, 1]")
  }

  def run(): Outcome = {
    val end = ctx.deadline
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (times.isEmpty || System.nanoTime() < end) times += timed(ctx.op(pass(path, corpus)))._2
    val docsPerS = corpus.docs.size * times.size / (times.sum / 1e3)
    val extras = if (useful.isEmpty) Map.empty[String, Double]
      else Map("ext.candidates.useful_ratio" -> useful.sum / useful.size)
    Outcome(times.toSeq, docsPerS, extras,
      Seq(Named("dedup_docs_per_s", docsPerS, "1/s", times.size),
        Named("dedup_pass_ms", Main.percentile(times.toSeq, 50), "ms", times.size)))
  }
}
