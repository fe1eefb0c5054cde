package perfbench

/** Expected outputs computed from the generated rows in plain Scala, with
  * no Spark involved, so a check cannot pass by sharing a bug with the
  * engine. Each function restates the reference semantics it checks. */
object Oracle {

  val valueIdx: Seq[Int] = 2 to 7 // the six odds value columns of both odds tables

  /** Fractional odds: "a/b" → (a+b)/2, a decimal → itself, else NULL. */
  def parse(s: String): Option[Double] =
    if (s == null) None
    else try {
      val t = s.trim
      if (t.contains('/')) {
        val parts = t.split("/")
        Some((parts(0).trim.toDouble + parts(1).trim.toDouble) / 2)
      } else Some(t.toDouble)
    } catch { case _: NumberFormatException | _: ArrayIndexOutOfBoundsException => None }

  /** Top-n bookmakers by row count, ties broken by name. */
  def topCompanies(rows: Iterable[Array[String]], n: Int = 10): Seq[String] =
    rows.groupBy(_(1)).toSeq.map { case (c, rs) => (c, rs.size) }
      .sortBy { case (c, k) => (-k, c) }.take(n).map(_._1)

  /** A pivot row survives `na.drop` iff every kept bookmaker has, for every
    * value column, at least one parseable cell (the pivot averages
    * duplicate rows and the mean ignores NULLs). */
  def complete(byCompany: Map[String, Iterable[Array[String]]], companies: Seq[String]): Boolean =
    companies.forall(c => byCompany.get(c).exists(rs =>
      valueIdx.forall(i => rs.exists(r => parse(r(i)).isDefined))))

  private def byIdCompany(rows: Iterable[Array[String]]): Map[String, Map[String, Iterable[Array[String]]]] =
    rows.groupBy(_(0)).map { case (id, rs) => id -> rs.groupBy(_(1)) }

  private def side(hg: Int): Int = if (hg == 0) 4 else 6 // host_team / guest_team

  def teamGames(l: Gen.League, name: String, hg: Int): Set[String] =
    l.games.filter(_(side(hg)) == name).map(_(0)).toSet

  /** The company list `trainFlat` pivots on (and persists in the model). */
  def flatCompanies(l: Gen.League, name: String, hg: Int): Seq[String] = {
    val games = teamGames(l, name, hg)
    topCompanies(l.odds.filter(r => games(r(0))))
  }

  /** Rows of `Features.flatTrainingSet`: the team's games with complete
    * top-10 odds features and a win/draw/loss label. */
  def flatRows(l: Gen.League, name: String, hg: Int): Int = {
    val games = teamGames(l, name, hg)
    val odds = l.odds.filter(r => games(r(0)))
    val comps = topCompanies(odds)
    val labelled = l.games.filter(g => Set("Win", "Draw", "Loss")(g(10))).map(_(0)).toSet
    byIdCompany(odds).count { case (id, bc) => labelled(id) && complete(bc, comps) }
  }

  /** Rows of `Features.overUnderTrainingSet`: complete in both odds tables
    * (each with its own top-10) and an over/under label. */
  def overUnderRows(l: Gen.League, name: String, hg: Int): Int = {
    val games = teamGames(l, name, hg)
    val odds = l.odds.filter(r => games(r(0)))
    val ou = l.overUnder.filter(r => games(r(0)))
    val (oc, uc) = (topCompanies(odds), topCompanies(ou))
    val ouById = byIdCompany(ou)
    val labelled = l.games.filter(g => Set("Over", "Under")(g(9))).map(_(0)).toSet
    byIdCompany(odds).count { case (id, bc) =>
      labelled(id) && complete(bc, oc) && ouById.get(id).exists(complete(_, uc))
    }
  }

  /** Ids `predictFlat` must return: games past the recency cutoff whose
    * odds are complete over the model's companies. */
  def recentComplete(odds: Iterable[Array[String]], companies: Seq[String], cutoff: Int): Set[String] =
    byIdCompany(odds.filter(r => r(0).toInt > cutoff))
      .collect { case (id, bc) if complete(bc, companies) => id }.toSet

  /** Order-independent content hash of string rows (64-bit sum of per-row
    * hashes), computed identically over engine output and generator rows. */
  def contentHash(rows: Iterator[Seq[String]]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, h), r) =>
      (n + 1, h + scala.util.hashing.MurmurHash3.seqHash(r.map(v => if (v == null) "\u0000" else v)).toLong * 0x9E3779B97F4A7C15L)
    }

  /** Planted near-dup partition recovered exactly: each planted cluster
    * maps to one component and no component holds two planted clusters or
    * a planted cluster plus a singleton. Returns a list of problems. */
  def clustersMatch(clusterOf: Map[Long, Int], component: Map[Long, Long]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (component.keySet != clusterOf.keySet)
      problems += s"component labels cover ${component.size} docs, corpus has ${clusterOf.size}"
    val byComponent = component.groupBy(_._2).values.map(_.keys.toSeq)
    byComponent.foreach { members =>
      val planted = members.map(clusterOf.getOrElse(_, -1)).distinct
      if (members.size > 1 && (planted.size > 1 || planted.head == -1))
        problems += s"component ${members.min} merges planted clusters ${planted.mkString(",")}"
    }
    clusterOf.groupBy(_._2).foreach { case (c, docs) =>
      if (c >= 0 && docs.keys.map(component.getOrElse(_, -1L)).toSet.size != 1)
        problems += s"planted cluster $c split over several components"
    }
    problems.result()
  }
}
