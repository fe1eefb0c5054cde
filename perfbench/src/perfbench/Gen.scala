package perfbench

import java.util.Locale

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Every table is built as plain rows first, so
  * [[Oracle]] can compute the expected outputs without Spark; the engine
  * only ever sees the files written from these rows. */
object Gen {

  /** Bookmakers, deliberately more than the top-10 the features keep. Two
    * carry an underscore so the `{value}_{hg}_{company}` naming is exercised. */
  val companies: Vector[String] = Vector(
    "Bet365", "William_Hill", "Pinnacle", "Ladbrokes", "Interwetten", "Bwin",
    "SNAI", "Coral", "Betfair", "Marathon", "10Bet", "Unibet", "Sbobet", "Macau_Slot")

  /** Chance that a bookmaker quotes a game: ten near-certain, a skewed tail. */
  val oddsPresence: Vector[Double] = Vector(
    0.998, 0.997, 0.996, 0.995, 0.994, 0.993, 0.992, 0.99, 0.985, 0.98, 0.55, 0.35, 0.2, 0.08)
  val ouPresence: Vector[Double] = Vector(
    0.997, 0.996, 0.995, 0.994, 0.993, 0.992, 0.99, 0.988, 0.985, 0.98, 0.5, 0.3, 0.15, 0.05)

  val cutoff: Int = 1600000

  final case class LeagueParams(
      teams: Int = 16, games: Int = 2000, recentShare: Double = 0.1,
      nullCell: Double = 0.002, fracCell: Double = 0.1, dupRow: Double = 0.03,
      missingLabel: Double = 0.02) {
    def describe: String =
      s"teams=$teams games=$games recent_share=$recentShare null_cell=$nullCell " +
        s"frac_cell=$fracCell dup_row=$dupRow missing_label=$missingLabel " +
        s"bookmakers=${companies.size} cutoff=$cutoff"
  }

  /** The reference's four tables as all-STRING rows (schemas from
    * `graft.soccer.Schemas`). */
  final case class League(
      params: LeagueParams,
      teams: Vector[Array[String]], // team_id, name
      games: Vector[Array[String]],
      odds: Vector[Array[String]],
      overUnder: Vector[Array[String]]) {
    def teamName(i: Int): String = teams(i)(1)
    def teamId(i: Int): String = teams(i)(0)
  }

  private def fmt(d: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(d))

  /** An odds cell: NULL, a fractional quarter line "a/b", or a decimal. */
  private def cell(r: Random, p: LeagueParams, lo: Double, hi: Double): String = {
    val u = r.nextDouble()
    if (u < p.nullCell) null
    else {
      val v = lo + r.nextDouble() * (hi - lo)
      if (u < p.nullCell + p.fracCell) s"${fmt(v)}/${fmt(v + 0.25)}" else fmt(v)
    }
  }

  def league(seed: Long, p: LeagueParams = LeagueParams()): League = {
    val r = new Random(seed)
    val teams = Vector.tabulate(p.teams)(i => Array((1000 + i).toString, f"Club $i%02d"))
    val nRecent = math.round(p.games * p.recentShare).toInt
    val nOld = p.games - nRecent
    // ids on both sides of the recency cutoff, unique and increasing
    val oldStart = cutoff - 3 * nOld
    val ids = Vector.tabulate(nOld)(i => oldStart + 3 * i + r.nextInt(3)) ++
      Vector.tabulate(nRecent)(j => cutoff + 1 + 3 * j + r.nextInt(3))
    val games = ids.map { id =>
      val h = r.nextInt(p.teams)
      val g = (h + 1 + r.nextInt(p.teams - 1)) % p.teams
      val recent = id > cutoff
      val hs = r.nextInt(5)
      val gs = r.nextInt(4)
      val wdl = if (recent || r.nextDouble() < p.missingLabel) null
        else if (hs > gs) "Win" else if (hs == gs) "Draw" else "Loss"
      val ou = if (recent) null else if (hs + gs > 2) "Over" else "Under"
      val asia = Seq("0", "0/0.5", "0.5", "0.5/1", "1", "1/1.5")(r.nextInt(6))
      Array(id.toString, if (r.nextBoolean()) "L1" else "L2",
        f"2019/${1 + r.nextInt(12)}%02d/${1 + r.nextInt(28)}%02d", f"${12 + r.nextInt(10)}%02d:30",
        teams(h)(1), if (recent) null else s"$hs-$gs", teams(g)(1),
        if (recent) null else s"${hs / 2}-${gs / 2}", asia, ou, wdl)
    }
    def quotes(presence: Vector[Double], row: (String, String) => Array[String]) =
      ids.flatMap { id =>
        companies.indices.filter(k => r.nextDouble() < presence(k)).flatMap { k =>
          val first = row(id.toString, companies(k))
          // a re-scraped duplicate (id, company) row: the pivot averages them
          if (r.nextDouble() < p.dupRow) Seq(first, row(id.toString, companies(k))) else Seq(first)
        }
      }
    val odds = quotes(oddsPresence, (id, c) =>
      Array(id, c) ++ Array.fill(6)(cell(r, p, 1.05, 9.0)))
    val ou = quotes(ouPresence, (id, c) => Array(id, c,
      cell(r, p, 1.6, 2.3), cell(r, p, 2.0, 3.0), cell(r, p, 1.6, 2.3),
      cell(r, p, 1.6, 2.3), cell(r, p, 2.0, 3.0), cell(r, p, 1.6, 2.3)))
    League(p, teams, games, odds, ou)
  }

  // ---- odds_ingest: a keyed game_odds store and a stream of scrape batches

  final case class IngestParams(
      initialGames: Int = 1500, newGamesPerBatch: Int = 110, rescrapeGames: Int = 110,
      recentWindow: Int = 400, nullCell: Double = 0.002, fracCell: Double = 0.1) {
    def describe: String =
      s"initial_games=$initialGames new_games_per_batch=$newGamesPerBatch " +
        s"rescrape_games_per_batch=$rescrapeGames recent_window=$recentWindow " +
        s"null_cell=$nullCell frac_cell=$fracCell bookmakers=${companies.size}"
  }

  /** Generates scrape batches with unique (id, odds_company) keys per batch
    * (the reference's Kudu upsert, `GameSpider.py:198-202`) and keeps the
    * latest-wins map the store must converge to. */
  final class IngestStream(seed: Long, val p: IngestParams) {
    require(p.recentWindow <= p.initialGames && p.rescrapeGames <= p.recentWindow)
    private val r = new Random(seed)
    private val lp = LeagueParams(nullCell = p.nullCell, fracCell = p.fracCell)
    private var nextId = cutoff - 2 * p.initialGames / 3
    private val gameIds = mutable.ArrayBuffer.empty[Int]
    val live: mutable.LinkedHashMap[(String, String), Array[String]] = mutable.LinkedHashMap.empty

    private def scrape(id: Int): Seq[Array[String]] =
      companies.indices.filter(k => r.nextDouble() < oddsPresence(k)).map { k =>
        Array(id.toString, companies(k)) ++ Array.fill(6)(cell(r, lp, 1.05, 9.0))
      }

    private def newGames(n: Int): Seq[Array[String]] =
      (0 until n).flatMap { _ => nextId += 1 + r.nextInt(2); gameIds += nextId; scrape(nextId) }

    private def apply(rows: Seq[Array[String]]): Seq[Array[String]] = {
      rows.foreach(row => live((row(0), row(1))) = row)
      rows
    }

    def initial(): Seq[Array[String]] = apply(newGames(p.initialGames))

    /** Id of the `back`-th most recent game: read-after-write pivots cover
      * a fixed window of recent games, so read work does not grow with run
      * length. */
    def recentCutoff(back: Int): Int = gameIds(gameIds.size - 1 - back)

    /** New games plus re-scraped odds for games among the most recent ones. */
    def batch(): Seq[Array[String]] = {
      val fresh = newGames(p.newGamesPerBatch)
      val picked = mutable.LinkedHashSet.empty[Int]
      while (picked.size < p.rescrapeGames)
        picked += gameIds(gameIds.size - 1 - r.nextInt(p.recentWindow))
      val rescraped = picked.toSeq.flatMap(scrape)
      val freshKeys = fresh.map(row => (row(0), row(1))).toSet
      apply(fresh ++ rescraped.filterNot(row => freshKeys((row(0), row(1)))))
    }
  }

  // ---- dedup_corpus: documents with planted near-duplicate clusters

  final case class CorpusParams(
      docs: Int = 1000, clusters: Int = 40, minCluster: Int = 2, maxCluster: Int = 6,
      vocab: Int = 6000, minTokens: Int = 60, maxTokens: Int = 160) {
    def describe: String =
      s"docs=$docs planted_clusters=$clusters cluster_size=$minCluster..$maxCluster " +
        s"vocab=$vocab tokens=$minTokens..$maxTokens edits_per_copy=1"
  }

  /** `docs` rows of (doc_id, text); `clusterOf(doc_id)` is the planted
    * cluster (-1 for a singleton). Each cluster copy differs from its base
    * document by one replaced token, so every pair stays far above the
    * similarity threshold while unrelated documents share no shingles. */
  final case class Corpus(params: CorpusParams, docs: Vector[(Long, String)], clusterOf: Map[Long, Int])

  def corpus(seed: Long, p: CorpusParams = CorpusParams()): Corpus = {
    val r = new Random(seed)
    val words = Vector.tabulate(p.vocab) { i =>
      val len = 3 + r.nextInt(6)
      (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString + i.toString
    }
    def doc(): Vector[String] = Vector.fill(p.minTokens + r.nextInt(p.maxTokens - p.minTokens + 1))(
      words(r.nextInt(p.vocab)))
    val out = mutable.ArrayBuffer.empty[(Vector[String], Int)]
    for (c <- 0 until p.clusters) {
      val base = doc()
      out += ((base, c))
      for (_ <- 1 until p.minCluster + r.nextInt(p.maxCluster - p.minCluster + 1)) {
        val pos = r.nextInt(base.size)
        out += ((base.updated(pos, words(r.nextInt(p.vocab))), c))
      }
    }
    while (out.size < p.docs) out += ((doc(), -1))
    val shuffled = r.shuffle(out.toVector)
    val docs = shuffled.zipWithIndex.map { case ((toks, _), i) =>
      // sentence punctuation and capitals for the quality scorer
      (i.toLong + 1, toks.grouped(12).map(s => s.mkString(" ").capitalize + ".").mkString(" "))
    }
    val clusterOf = shuffled.zipWithIndex.map { case ((_, c), i) => (i.toLong + 1) -> c }.toMap
    Corpus(p, docs, clusterOf)
  }
}
