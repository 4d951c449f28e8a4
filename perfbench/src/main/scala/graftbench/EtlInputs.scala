package graftbench

import java.time.LocalDate

import graft.schema.{AmoAddon, AmoFile, AmoPromoted, AmoRatings, AmoVersion}

/** One row of `clients_last_seen`, the profile pipeline's input. */
final case class ClientRow(
    client_id: String,
    city: String,
    subsession_hours_sum: Option[Double],
    locale: String,
    os: String,
    active_addons: Seq[String],
    places_bookmarks_count_mean: Option[Long],
    scalar_parent_browser_engagement_tab_open_event_count_sum: Option[Long],
    scalar_parent_browser_engagement_total_uri_count_sum: Option[Long],
    scalar_parent_browser_engagement_unique_domains_count_mean: Option[Long],
    submission_date: String)

final case class UsageRow(addon_id: String, client_id: String, submission_date: String)
final case class VersionRow(guid: String, first_create_date: String)
final case class EditorialRow(guid: String)
final case class DeletionRow(client_id: String, submission_timestamp: java.sql.Timestamp)

/** Seeded inputs of the TAAR chain. Addon popularity is Zipf-skewed (a
  * few addons are installed by most clients), and every predicate
  * boundary the jobs document (rating exactly 3.0, created exactly 60
  * days before the run date, the pioneer guid, empty file lists,
  * non-webextension first files, invalid editorial guids, opt-outs
  * outside the 28-day window) occurs in every seed. */
final case class EtlInputs(
    addons: Seq[AmoAddon],
    versions: Seq[VersionRow],
    editorial: Seq[EditorialRow],
    usage: Seq[UsageRow],
    clients: Seq[ClientRow],
    deletions: Seq[DeletionRow]) {
  import EtlInputs._

  private lazy val dumped: Seq[AmoAddon] = {
    val created = versions.map(v => v.guid -> v.first_create_date).toMap
    addons.flatMap(a => created.get(a.guid).map(d => a.copy(first_create_date = Some(d))))
  }
  private def whitelisted(a: AmoAddon): Boolean =
    a.guid != graft.jobs.AmoWhitelist.PioneerGuid &&
      a.current_version.files.nonEmpty &&
      a.current_version.files.head.is_webextension &&
      a.ratings.average >= graft.jobs.AmoWhitelist.MinRating &&
      !LocalDate.parse(a.first_create_date.get)
        .isAfter(AsOf.minusDays(graft.jobs.AmoWhitelist.MinAgeDays.toLong))
  private def featured(a: AmoAddon): Boolean =
    a.promoted != null && a.promoted.category == "recommended"

  /** What each published artifact must hold, computed from the inputs
    * without the engine: the key set of each keyed-object artifact, the
    * shortlist in order, and the ranking's counts. */
  lazy val expectedKeys: Map[String, Set[String]] = Map(
    "extended_addons_database.json" -> dumped.map(_.guid).toSet,
    "whitelist_addons_database.json" -> dumped.filter(whitelisted).map(_.guid).toSet,
    "featured_addons_database.json" -> dumped.filter(featured).map(_.guid).toSet,
    "featured_whitelist_addons.json" ->
      dumped.filter(a => whitelisted(a) && featured(a)).map(_.guid).toSet)
  lazy val expectedShortlist: Seq[String] =
    editorial.map(_.guid).filter(g => g != null && g != "null" && g.nonEmpty).distinct.sorted
  lazy val expectedRanking: Map[String, Long] =
    usage.filter(u => u.submission_date == ProfileDate && u.client_id != null)
      .groupBy(_.addon_id).map { case (g, rs) => g -> rs.size.toLong }
  /** Client ids whose opt-out falls in the trailing window the delete uses. */
  lazy val optOutsInWindow: Set[String] = {
    val from = LocalDate.parse(ProfileDate).minusDays(OptOutDays.toLong)
    val to = LocalDate.parse(ProfileDate)
    deletions.filter { d =>
      val day = d.submission_timestamp.toLocalDateTime.toLocalDate
      !day.isBefore(from) && !day.isAfter(to)
    }.map(_.client_id).toSet
  }
  lazy val expectedKvRows: Long =
    (clients.filter(c => c.submission_date == ProfileDate && c.active_addons.nonEmpty)
      .map(_.client_id).toSet -- optOutsInWindow).size.toLong
}

object EtlInputs {
  val AsOf: LocalDate = LocalDate.parse("2026-08-12")
  val ProfileDate = "2026-08-10"
  val OptOutDays = 28
  val Addons = 600
  val Clients = 5000

  def generate(seed: Long): EtlInputs = {
    val rnd = new java.util.SplittableRandom(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    def chance(p: Double): Boolean = rnd.nextDouble() < p
    val guids = (0 until Addons).map(i => f"addon-$i%05d@graft.test")
    // Zipf(1.1) popularity over a seeded ranking of the guids
    val byPopularity = shuffle(guids, rnd)
    val cdf = {
      val w = (1 to Addons).map(r => 1.0 / math.pow(r, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def popular(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      byPopularity(math.min(if (i >= 0) i else -i - 1, Addons - 1))
    }

    val addons = guids.zipWithIndex.map { case (g, i) =>
      val guid = if (i == 7) graft.jobs.AmoWhitelist.PioneerGuid else g
      val files = i % 41 match {
        case 0 => Seq.empty
        case 1 => Seq(AmoFile(i, "all", "public", is_webextension = false),
          AmoFile(i + 100000L, "all", "public", is_webextension = true))
        case _ => Seq(AmoFile(i, pick(Seq("all", "linux", "mac")), "public", true))
      }
      val rating = if (i % 53 == 0) 3.0 else math.round(rnd.nextDouble() * 500) / 100.0
      AmoAddon(guid, Map("firefox" -> Seq(pick(Seq("privacy", "tabs", "social")))),
        "en-US", Map("en-US" -> s"desc $i"), Map("en-US" -> s"Addon $i"),
        AmoVersion(files), AmoRatings(rating, rating * 0.95, rnd.nextInt(5000), rnd.nextInt(900)),
        if (chance(0.2)) AmoPromoted("recommended") else AmoPromoted(null),
        Map("en-US" -> s"summary $i"), Seq("t" + (i % 9)), rnd.nextInt(200000).toLong, None)
    }
    val versions = addons.zipWithIndex.collect { case (a, i) if i % 10 != 3 =>
      val created =
        if (i % 59 == 0) AsOf.minusDays(graft.jobs.AmoWhitelist.MinAgeDays.toLong)
        else if (i % 59 == 1) AsOf.minusDays(graft.jobs.AmoWhitelist.MinAgeDays - 1L)
        else AsOf.minusDays(1L + rnd.nextInt(3000))
      VersionRow(a.guid, created.toString)
    }
    val editorial = (guids.filter(_ => chance(0.3)) ++ Seq(null, "null", "", "null") ++
      guids.take(40)).map(EditorialRow)
    val days = Seq(ProfileDate, "2026-08-09", "2026-08-11")
    val clientIds = (0 until Clients).map(i => f"client-$seed%d-$i%07d")
    val clients = clientIds.map { id =>
      val n = if (chance(0.05)) 0 else 1 + rnd.nextInt(6)
      ClientRow(id, pick(Seq("Berlin", "Lagos", "Lima", "Osaka", "Toronto")),
        if (chance(0.1)) None else Some(rnd.nextDouble() * 40),
        pick(Seq("en-US", "de", "fr", "ja")), pick(Seq("Linux", "Windows_NT", "Darwin")),
        Seq.fill(n)(popular()).distinct,
        if (chance(0.1)) None else Some(rnd.nextInt(300).toLong),
        if (chance(0.1)) None else Some(rnd.nextInt(5000).toLong),
        Some(rnd.nextInt(90000).toLong), Some(rnd.nextInt(400).toLong),
        if (chance(0.85)) days.head else pick(days.tail))
    }
    val usage = clients.flatMap(c => c.active_addons.map(a => UsageRow(a, c.client_id,
      if (chance(0.8)) ProfileDate else pick(days.tail))))
    val base = java.time.LocalDateTime.parse(ProfileDate + "T12:00:00")
    val deletions = clientIds.filter(_ => chance(0.03)).map { id =>
      val back = if (chance(0.8)) rnd.nextInt(OptOutDays) else OptOutDays + 1 + rnd.nextInt(30)
      DeletionRow(id, java.sql.Timestamp.valueOf(base.minusDays(back.toLong)))
    } ++ Seq(DeletionRow("client-unknown", java.sql.Timestamp.valueOf(base)))
    EtlInputs(addons, versions, editorial, usage, clients, deletions)
  }

  private def shuffle[T](xs: IndexedSeq[T], rnd: java.util.SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}
