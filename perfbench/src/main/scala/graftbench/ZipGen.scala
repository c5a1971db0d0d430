package graftbench

import java.time.LocalDate
import scala.collection.mutable
import scala.util.Random

/** Seed-driven generator of zipcode-shaped CSV input, with the same
  * structure as `tools/gen_zipcodes.py`: about 20% of composite keys
  * (zipcode_state_abbr) appear 2-4 times with different attributes.
  * It also keeps its own books: the expected result of every check is
  * computed here from plain collections, independent of Spark. */
object ZipGen {
  final case class Rec(fips: Int, state: String, abbr: String, zip: String,
      county: String, city: String, updated: LocalDate) {
    def key: String = s"${zip}_$abbr"
    def csv: String = s"$fips,$state,$abbr,$zip,$county,$city,$updated"
  }

  val Header = "state_fips,state,state_abbr,zipcode,county,city,last_updated"

  val States: IndexedSeq[(Int, String, String)] = IndexedSeq(
    (1, "Alabama", "AL"), (2, "Alaska", "AK"), (4, "Arizona", "AZ"),
    (5, "Arkansas", "AR"), (6, "California", "CA"), (8, "Colorado", "CO"),
    (9, "Connecticut", "CT"), (10, "Delaware", "DE"), (12, "Florida", "FL"),
    (13, "Georgia", "GA"), (15, "Hawaii", "HI"), (16, "Idaho", "ID"),
    (17, "Illinois", "IL"), (18, "Indiana", "IN"), (19, "Iowa", "IA"),
    (20, "Kansas", "KS"), (21, "Kentucky", "KY"), (22, "Louisiana", "LA"),
    (23, "Maine", "ME"), (24, "Maryland", "MD"), (25, "Massachusetts", "MA"),
    (26, "Michigan", "MI"), (27, "Minnesota", "MN"), (28, "Mississippi", "MS"),
    (29, "Missouri", "MO"), (30, "Montana", "MT"), (31, "Nebraska", "NE"),
    (32, "Nevada", "NV"), (33, "New Hampshire", "NH"), (34, "New Jersey", "NJ"),
    (35, "New Mexico", "NM"), (36, "New York", "NY"), (37, "North Carolina", "NC"),
    (38, "North Dakota", "ND"), (39, "Ohio", "OH"), (40, "Oklahoma", "OK"),
    (41, "Oregon", "OR"), (42, "Pennsylvania", "PA"), (44, "Rhode Island", "RI"),
    (45, "South Carolina", "SC"), (46, "South Dakota", "SD"), (47, "Tennessee", "TN"),
    (48, "Texas", "TX"), (49, "Utah", "UT"), (50, "Vermont", "VT"),
    (51, "Virginia", "VA"), (53, "Washington", "WA"), (54, "West Virginia", "WV"),
    (55, "Wisconsin", "WI"), (56, "Wyoming", "WY"))

  private val CountyWords = IndexedSeq("Cedar", "Lake", "Granite", "Summit",
    "Prairie", "Harbor", "Madison", "Franklin", "Union", "Clay", "Pine", "Oak")
  private val CityWords = IndexedSeq("Springfield", "Riverton", "Fairview",
    "Ashland", "Milton", "Georgetown", "Clinton", "Greenville", "Bristol",
    "Salem", "Dover", "Hudson", "Arlington", "Burlington", "Winchester")
  private val FirstDay = LocalDate.parse("2025-06-01")  // .. 2026-07-31

  /** Key number `g` in a key space shifted by `zipOffset`: states take
    * turns, and each state's zips count up from its own base. */
  def keyed(rnd: Random, g: Int, zipOffset: Int): Rec = {
    val (fips, state, abbr) = States(g % States.size)
    val zip = f"${(fips * 1000 + 100 + g / States.size + zipOffset) % 100000}%05d"
    attrs(rnd, Rec(fips, state, abbr, zip, "", "", FirstDay))
  }

  def attrs(rnd: Random, r: Rec): Rec = r.copy(
    county = s"${CountyWords(rnd.nextInt(CountyWords.size))} ${if (rnd.nextBoolean()) "County" else "Parish"}",
    city = CityWords(rnd.nextInt(CityWords.size)),
    updated = FirstDay.plusDays(rnd.nextInt(426).toLong))

  /** Rows for keys [from, from + n): one row per key, and for 20% of the
    * keys 1-3 more rows with other attributes; shuffled. */
  def rows(rnd: Random, from: Int, n: Int, zipOffset: Int): IndexedSeq[Rec] = {
    val out = mutable.ArrayBuffer[Rec]()
    for (g <- from until from + n) {
      val r = keyed(rnd, g, zipOffset)
      out += r
      if (rnd.nextDouble() < 0.20)
        for (_ <- 0 until 1 + rnd.nextInt(3)) out += attrs(rnd, r)
    }
    rnd.shuffle(out).toIndexedSeq
  }

  def csv(rows: Seq[Rec]): String = {
    val sb = new StringBuilder(Header).append('\n')
    rows.foreach(r => sb.append(r.csv).append('\n'))
    sb.toString
  }

  /** `ZipEtl.dedupeLastWins`: per key the row with the latest
    * last_updated, ties broken by state_fips, county, city (descending). */
  def lastWins(rows: Seq[Rec]): Map[String, Rec] = {
    val ord: Ordering[Rec] = Ordering.by((r: Rec) => (r.updated.toEpochDay, r.fips, r.county, r.city))
    rows.groupBy(_.key).map { case (k, rs) => k -> rs.max(ord) }
  }

  /** One row of the target table, in the column order of
    * `ZipEtl.enrich` followed by last_modified. */
  final case class Target(r: Rec, elevation: Option[Long], modified: LocalDate) {
    private def z = r.zip.toLong
    def latitude: Double = -90 + (z * 7919L % 18000L) / 100.0
    def longitude: Double = -180 + (z * 104729L % 36000L) / 100.0
    def timezone: String = {
      val off = z % 25 - 12
      if (off >= 0) s"UTC+$off" else s"UTC$off"
    }
    def tzRegion: String = Seq("Eastern", "Central", "Mountain", "Pacific")(r.fips % 4)
    def values: Seq[Any] = Seq(r.fips, r.state, r.abbr, r.zip, r.county, r.city,
      java.sql.Date.valueOf(r.updated), r.key, latitude, longitude,
      elevation.map(Long.box).orNull, timezone, tzRegion, java.sql.Date.valueOf(modified))
  }
  val TargetColumns: Seq[String] = Seq("state_fips", "state", "state_abbr", "zipcode",
    "county", "city", "last_updated", "composite_key", "latitude", "longitude",
    "elevation", "timezone", "tz_region", "last_modified")

  def enriched(r: Rec, modified: LocalDate): Target =
    Target(r, Some(r.zip.toLong * 31L % 4000L), modified)
}
