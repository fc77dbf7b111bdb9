package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Seeded death-metal landing CSVs (`albums`, `bands`, `reviews`) with
  * the dirt the medallion flows exist to clean, plus the gold tables the
  * flows must derive from them, computed here in plain Scala:
  *
  *  - padded / capitalised headers (`id, Title ,band,year`, `Formed in`);
  *  - exact duplicate rows (bronze dedup);
  *  - review→album and album→band misses (left joins keep them);
  *  - `|` inside review content (silver rewrites it to `,`);
  *  - ` brasil ` / `Brazil` country variants (gold's normalised filter);
  *  - empty or `N/A` years (null-on-failure casts);
  *  - quoted multi-range `active` values.
  */
object DeathMetal {
  final case class Band(id: Long, name: String, country: String)
  final case class Album(id: Long, band: Long)
  final case class Review(album: Long, score: Double)

  final case class Data(bands: Seq[Band], albums: Seq[Album], reviews: Seq[Review],
                        csvRows: Long, distinctRows: Long, chunked: Set[String]) {
    /** Rows bronze keeps: the distinct data rows, plus one row per dataset
      * whose landing object embeds repeated chunk headers (the reference's
      * chunked landing leaves them in; silver drops the reviews one).
      */
    def bronzeRows: Long = distinctRows + chunked.size
  }

  /** The reference's landing chunk size (`flows/landing.py:28`): a CSV
    * larger than this is split into header-prefixed chunks.
    */
  val LandingChunkBytes: Int = 900 * 1024

  private val Countries = Seq("Norway", "Sweden", "Finland", "USA", "Germany", "Poland",
    "Brazil", " brasil ", "brazil", "BRASIL", "Greece", "Colombia")
  private val Genres = Seq("Black Metal", "Death Metal", "Thrash Metal", "Doom Metal", "Grindcore")
  private val Themes = Seq("Darkness", "Death", "War", "Occultism", "Nature", "Misanthropy")
  private val Status = Seq("Active", "Split-up", "On hold", "Unknown")
  private val Words = Seq("grim", "frost", "blasphemy", "riff", "necro", "abyss", "raw",
    "tremolo", "crypt", "storm", "eternal", "void", "funeral", "winter", "throne")

  /** Write the three CSVs to `dir` and return the rows they hold. */
  def generate(seed: Long, dir: String, nBands: Int): Data = {
    val rnd = new java.util.SplittableRandom(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def words(n: Int): String = Seq.fill(n)(pick(Words)).mkString(" ")
    var csvRows = 0L
    var distinct = 0L
    def emit(sb: StringBuilder, line: String): Unit = {
      val copies = if (rnd.nextInt(50) == 0) 2 else 1 // ~2% exact duplicate rows
      for (_ <- 0 until copies) sb.append(line).append('\n')
      csvRows += copies
      distinct += 1
    }

    val bandsCsv = new StringBuilder("id,name,country,genre,theme,status,Formed in,active\n")
    val bands = (1 to nBands).map { i =>
      val b = Band(i, s"${words(2).capitalize} $i", pick(Countries))
      val formed = rnd.nextInt(10) match {
        case 0 => ""
        case 1 => "N/A"
        case _ => (1970 + rnd.nextInt(45)).toString
      }
      val start = 1975 + rnd.nextInt(35)
      val active =
        if (rnd.nextInt(3) == 0) s"\"$start-${start + 3}, ${start + 8}-present\""
        else s"$start-present"
      emit(bandsCsv, Seq(i.toString, b.name, b.country, pick(Genres), pick(Themes),
        pick(Status), formed, active).mkString(","))
      b
    }

    val albumsCsv = new StringBuilder("id, Title ,band,year\n")
    val albums = (1 to nBands * 3).map { i =>
      // ~3% of albums name a band that does not exist
      val band = if (rnd.nextInt(33) == 0) nBands + 1 + rnd.nextInt(1000) else 1 + rnd.nextInt(nBands)
      val year = rnd.nextInt(12) match {
        case 0 => ""
        case 1 => "N/A"
        case _ => (1980 + rnd.nextInt(44)).toString
      }
      emit(albumsCsv, Seq(i.toString, words(3), band.toString, year).mkString(","))
      Album(i, band)
    }

    val reviewsCsv = new StringBuilder("id,album,score,content\n")
    val reviews = (1 to nBands * 12).map { i =>
      // ~4% of reviews name an album that does not exist
      val album = if (rnd.nextInt(25) == 0) albums.size + 1 + rnd.nextInt(1000) else 1 + rnd.nextInt(albums.size)
      val score = rnd.nextInt(1001) / 10.0
      val content = Seq.fill(2 + rnd.nextInt(4))(words(4 + rnd.nextInt(8))).mkString(" | ")
      emit(reviewsCsv, Seq(i.toString, album.toString, score.toString, content).mkString(","))
      Review(album, score)
    }

    Files.createDirectories(Paths.get(dir))
    val csvs = Seq("bands" -> bandsCsv, "albums" -> albumsCsv, "reviews" -> reviewsCsv)
      .map { case (name, sb) => name -> sb.toString.getBytes(UTF_8) }
    csvs.foreach { case (name, bytes) => Files.write(Paths.get(s"$dir/$name.csv"), bytes) }
    Data(bands, albums, reviews, csvRows, distinct,
      csvs.collect { case (name, bytes) if bytes.length > LandingChunkBytes => name }.toSet)
  }

  type Key = (Option[String], Option[Long], Option[String]) // country, band_id, band_name

  /** Gold `band_avg_scores` rows: key → (count, avg, min, max, std). */
  def bandAvgScores(d: Data): Map[Key, (Long, Double, Double, Double, Option[Double])] = {
    val bands = d.bands.map(b => b.id -> b).toMap
    val albumBand = d.albums.map(a => a.id -> a.band).toMap
    d.reviews.groupBy { r =>
      albumBand.get(r.album) match {
        case None => (None, None, None)
        case Some(bid) => (bands.get(bid).map(_.country), Some(bid), bands.get(bid).map(_.name))
      }
    }.map { case (k, rs) =>
      val s = rs.map(_.score)
      val mean = s.sum / s.size
      val std = if (s.size < 2) None
        else Some(math.sqrt(s.map(x => (x - mean) * (x - mean)).sum / (s.size - 1)))
      k -> ((s.size.toLong, mean, s.min, s.max, std))
    }
  }

  /** Gold `top10_by_country`: per country, the ten keys with the most
    * reviews (ties by band id, nulls first).
    */
  def top10ByCountry(d: Data): Set[(Key, Long)] = {
    val idOrder = Ordering.Option(Ordering.Long)
    bandAvgScores(d).toSeq.groupBy(_._1._1).values.flatMap { rows =>
      rows.sortWith { case ((ka, a), (kb, b)) =>
        if (a._1 != b._1) a._1 > b._1 else idOrder.lt(ka._2, kb._2)
      }.take(10).map { case (k, v) => (k, v._1) }
    }.toSet
  }

  /** Gold `band_album_counts`: albums per (country, band_id, band_name);
    * an embedded albums header row counts as one album of no band.
    */
  def bandAlbumCounts(d: Data): Map[Key, Long] = {
    val bands = d.bands.map(b => b.id -> b).toMap
    val counts = d.albums
      .groupBy(a => (bands.get(a.band).map(_.country), Some(a.band), bands.get(a.band).map(_.name)))
      .map { case (k, as) => (k: Key) -> as.size.toLong }
    if (d.chunked("albums")) counts + ((None, None, None) -> 1L) else counts
  }

  def isBrazil(country: Option[String]): Boolean =
    country.exists(c => Set("brazil", "brasil")(c.trim.toLowerCase))
}
