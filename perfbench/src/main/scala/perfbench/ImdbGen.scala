package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded generator of raw IMDb-shaped TSVs for all seven tables the
  * pipeline ingests (header row, tab separated, literal `\N` for null).
  *
  * The shape properties are constants of the workload, not options:
  *  - genres are skewed towards Drama, with 1-3 distinct genres per title
  *    and a few titles whose genres are `\N`;
  *  - movie runtimes and start years are `\N` for a fixed share, and a
  *    few runtimes are 0 (inside the 0.98 `runtimeMinutes >= 1` gate);
  *  - titles carry several principals: actors and actresses first, then
  *    non-cast roles (director, writer, producer, self) that the top-3
  *    cast filter must drop; a few orderings are `\N`;
  *  - series run one to eight seasons, with specials (`\N` season and
  *    episode) and a few orphan episodes whose series is missing;
  *  - some movies carry "Oscar" / "Academy Award" akas in varied case,
  *    sometimes twice for the same title;
  *  - a small fraction of ratings is out of [0, 10], well inside the
  *    0.995 (movies) and 0.99 (episodes) GE tolerances.
  *
  * The same seed and size give byte-identical files.
  */
object ImdbGen {

  /** Counts the output checks derive independently of the engine. */
  final case class Summary(movieFactRows: Long, episodeRows: Long, rawBytes: Long)

  val Tables: Seq[String] = Seq("title_basics", "title_ratings", "title_crew",
    "name_basics", "title_principals", "title_akas", "title_episode")

  private val Genres: Array[(String, Double)] = Array(
    "Drama" -> 26.0, "Comedy" -> 14.0, "Documentary" -> 9.0, "Action" -> 6.0,
    "Romance" -> 6.0, "Thriller" -> 5.0, "Crime" -> 5.0, "Horror" -> 4.0,
    "Adventure" -> 4.0, "Family" -> 3.0, "Mystery" -> 3.0, "Biography" -> 3.0,
    "Fantasy" -> 2.0, "History" -> 2.0, "Music" -> 2.0, "Sci-Fi" -> 2.0,
    "Animation" -> 2.0, "War" -> 1.0, "Sport" -> 1.0, "Western" -> 1.0,
    "Musical" -> 1.0, "Film-Noir" -> 0.5, "News" -> 0.5)
  private val GenreCdf: Array[Double] = Genres.map(_._2).scanLeft(0.0)(_ + _).tail
    .map(_ / Genres.map(_._2).sum)

  private val NonEpisodeTypes: Array[(String, Double)] = Array(
    "movie" -> 0.60, "short" -> 0.12, "tvMovie" -> 0.08, "tvSeries" -> 0.05,
    "video" -> 0.10, "tvSpecial" -> 0.05)

  private val First = Array("Anna", "Ben", "Cara", "Dev", "Eli", "Fay", "Gus",
    "Hana", "Ivo", "Jun", "Kai", "Lea", "Max", "Nia", "Oto", "Pia", "Ray",
    "Sol", "Tia", "Uma", "Vic", "Wen", "Xia", "Yui", "Zed")
  private val Last = Array("Abbot", "Brook", "Costa", "Dunn", "Evans", "Frey",
    "Grant", "Hale", "Ito", "Jones", "Kerr", "Lund", "Mora", "Nash", "Ortiz",
    "Park", "Quinn", "Rossi", "Sato", "Tran", "Ueda", "Vance", "Wolfe", "Young")
  private val Words = Array("Night", "River", "Last", "Silent", "Golden", "Iron",
    "Lost", "City", "Dream", "Storm", "Glass", "Shadow", "Winter", "Fire",
    "Garden", "Empire", "Echo", "Harbor", "Signal", "Stone")
  private val Regions = Array("US", "GB", "FR", "DE", "JP", "IN", "BR", "ES")
  private val OscarAkas = Array("%s - Oscar Winner", "%s (OSCAR edition)",
    "%s: the academy award story", "Academy Award Presents %s", "%s, oscar night")

  private final class Tsv(dir: File, name: String, header: String) {
    val file = new File(dir, s"$name.tsv")
    private val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    w.write(header.replace('|', '\t')); w.write('\n')
    def row(fields: String*): Unit = {
      var i = 0
      while (i < fields.length) { if (i > 0) w.write('\t'); w.write(fields(i)); i += 1 }
      w.write('\n')
    }
    def close(): Unit = w.close()
  }

  private val N = "\\N"
  private def tt(i: Int) = f"tt$i%08d"
  private def nm(i: Int) = f"nm$i%08d"

  /** Write the seven tables under `dir` for `titles` non-episode titles
    * (episodes come on top, about 0.8 per non-episode title). */
  def write(dir: File, seed: Long, titles: Int): Summary = {
    dir.mkdirs()
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    def u(): Double = rnd.nextDouble()
    def pick[T](xs: Array[T]): T = xs(rnd.nextInt(xs.length))
    def weighted(cdf: Array[Double]): Int = {
      val x = u(); var i = 0
      while (i < cdf.length - 1 && x >= cdf(i)) i += 1
      i
    }
    val typeCdf = NonEpisodeTypes.map(_._2).scanLeft(0.0)(_ + _).tail
    val nNames = math.max(50, (titles * 0.6).toInt)
    // popular people appear in many titles (versatile-actor query)
    def person(): Int = 1 + (nNames * math.pow(u(), 2.2)).toInt.min(nNames - 1)
    def title(): String = s"${pick(Words)} ${pick(Words)} ${rnd.nextInt(1000)}"
    def genres(): String =
      if (u() < 0.03) N
      else {
        val k = { val x = u(); if (x < 0.5) 1 else if (x < 0.8) 2 else 3 }
        val gs = scala.collection.mutable.LinkedHashSet.empty[String]
        while (gs.size < k) gs += Genres(weighted(GenreCdf))._1
        gs.mkString(",")
      }
    def year(lo: Int, hi: Int): Int = hi - ((hi - lo) * math.pow(u(), 1.6)).toInt
    def rating(dirtyShare: Double): String =
      if (u() < dirtyShare) (if (u() < 0.5) "11.5" else "-1.0")
      else f"${math.max(1.0, math.min(10.0, 6.4 + 1.6 * rnd.nextDouble(-1.7, 1.7)))}%.1f"
    def votes(): String = math.exp(u() * math.log(2e6)).toLong.max(5).toString

    val basics = new Tsv(dir, "title_basics",
      "tconst|titleType|primaryTitle|originalTitle|isAdult|startYear|endYear|runtimeMinutes|genres")
    val ratings = new Tsv(dir, "title_ratings", "tconst|averageRating|numVotes")
    val crew = new Tsv(dir, "title_crew", "tconst|directors|writers")
    val principals = new Tsv(dir, "title_principals",
      "tconst|ordering|nconst|category|job|characters")
    val akas = new Tsv(dir, "title_akas",
      "titleId|ordering|title|region|language|types|attributes|isOriginalTitle")
    val episodes = new Tsv(dir, "title_episode", "tconst|parentTconst|seasonNumber|episodeNumber")

    var movieFactRows = 0L
    var episodeRows = 0L
    var nextId = 1

    def writeCrew(id: String): Unit = {
      val dirs = if (u() < 0.05) N else Seq.fill(1 + rnd.nextInt(2))(nm(person())).mkString(",")
      val nw = rnd.nextInt(4)
      crew.row(id, dirs, if (nw == 0) N else Seq.fill(nw)(nm(person())).mkString(","))
    }
    def writePrincipals(id: String, k: Int, documentary: Boolean): Unit = {
      val nCast = math.max(1, (k * 0.6).toInt)
      var o = 1
      while (o <= k) {
        val cat =
          if (o <= nCast) (if (documentary) "self" else if (u() < 0.55) "actor" else "actress")
          else pick(Array("director", "writer", "producer", "composer", "self"))
        val ord = if (u() < 0.01) N else o.toString
        val chars = if (cat == "actor" || cat == "actress") s"""["${pick(First)}"]""" else N
        principals.row(id, ord, nm(person()), cat, N, chars)
        o += 1
      }
    }

    var i = 0
    while (i < titles) {
      val id = tt(nextId); nextId += 1
      val ty = NonEpisodeTypes(weighted(typeCdf))._1
      val name = title()
      val g = genres()
      ty match {
        case "tvSeries" =>
          val start = year(1950, 2022)
          val end = if (u() < 0.6) (start + 1 + rnd.nextInt(15)).min(2024).toString else N
          basics.row(id, ty, name, name, "0", start.toString, end, (20 + rnd.nextInt(40)).toString, g)
          if (u() < 0.9) ratings.row(id, rating(0.0), votes())
          writeCrew(id)
          // seasons and episodes (titles follow their series)
          val seasons = 1 + math.min(7, (-math.log(1 - u()) * 1.6).toInt)
          var s = 1
          while (s <= seasons) {
            val eps = 2 + rnd.nextInt(11)
            var e = 1
            while (e <= eps) {
              val eid = tt(nextId); nextId += 1
              val epYear = if (u() < 0.03) N else (start + s - 1).min(2024).toString
              basics.row(eid, "tvEpisode", s"$name S${s}E$e", s"$name S${s}E$e", "0",
                epYear, N, (20 + rnd.nextInt(40)).toString, g)
              if (u() < 0.75) ratings.row(eid, rating(0.003), votes())
              episodes.row(eid, id, s.toString, if (u() < 0.01) N else e.toString)
              writePrincipals(eid, 2 + rnd.nextInt(4), documentary = false)
              episodeRows += 1
              e += 1
            }
            s += 1
          }
          if (u() < 0.35) {
            var sp = 1 + rnd.nextInt(2)
            while (sp > 0) {
              val eid = tt(nextId); nextId += 1
              basics.row(eid, "tvEpisode", s"$name Special", s"$name Special", "0",
                start.toString, N, "45", g)
              if (u() < 0.6) ratings.row(eid, rating(0.003), votes())
              episodes.row(eid, id, N, N)
              episodeRows += 1
              sp -= 1
            }
          }
        case _ =>
          val startYear = if (ty == "movie" && u() < 0.04) N else year(1915, 2024).toString
          val runtime =
            if (u() < 0.08) N
            else if (ty == "movie" && u() < 0.005) "0"
            else if (ty == "short") (3 + rnd.nextInt(25)).toString
            else (70 + rnd.nextInt(110)).toString
          val original = if (u() < 0.2) s"${pick(Words)} ${name.split(' ')(1)}" else name
          basics.row(id, ty, name, original, "0", startYear, N, runtime, g)
          if (u() < (if (ty == "movie") 0.8 else 0.45)) ratings.row(id, rating(0.003), votes())
          writeCrew(id)
          writePrincipals(id, 3 + rnd.nextInt(7), documentary = g.startsWith("Documentary"))
          if (ty == "movie") {
            if (startYear != N && g != N) movieFactRows += g.split(',').length
            var a = rnd.nextInt(4)
            var ord = 1
            while (a > 0) {
              akas.row(id, ord.toString, s"$name (${pick(Regions)})", pick(Regions), N,
                N, N, "0"); ord += 1; a -= 1
            }
            if (u() < 0.02) {
              var o = if (u() < 0.5) 2 else 1
              while (o > 0) {
                akas.row(id, ord.toString, pick(OscarAkas).format(name), "US", "en",
                  "festival", N, "0"); ord += 1; o -= 1
              }
            }
          }
      }
      i += 1
    }
    // orphan episodes: their series is absent from title_basics
    var o = 0
    while (o < math.max(1, titles / 400)) {
      val eid = tt(nextId); nextId += 1
      basics.row(eid, "tvEpisode", s"Orphan $o", s"Orphan $o", "0", "2001", N, "30", "Drama")
      episodes.row(eid, f"tt9$o%07d", "1", (o + 1).toString)
      episodeRows += 1
      o += 1
    }
    Seq(basics, ratings, crew, principals, akas, episodes).foreach(_.close())

    val names = new Tsv(dir, "name_basics",
      "nconst|primaryName|birthYear|deathYear|primaryProfession|knownForTitles")
    var p = 1
    while (p <= nNames) {
      val birth = if (u() < 0.3) N else (1900 + rnd.nextInt(106)).toString
      names.row(nm(p), s"${pick(First)} ${pick(Last)} $p", birth,
        if (birth != N && u() < 0.1) (birth.toInt + 40 + rnd.nextInt(50)).min(2024).toString else N,
        pick(Array("actor", "actress", "director", "writer", "producer")), N)
      p += 1
    }
    names.close()

    val rawBytes = Tables.map(t => new File(dir, s"$t.tsv").length()).sum
    Summary(movieFactRows, episodeRows, rawBytes)
  }
}
