package perfbench

import java.util.SplittableRandom

/** Seeded ad-click log lines in the reference's wire format
  * `timestamp_ms province city user_id ad_id` (FIXTURES.md A6).
  *
  * Users and ads are Zipf-skewed. A few bot users, all in one
  * province, click one ad each often enough to cross the blacklist
  * threshold of 100; every other user is kept below it per ad, so the
  * blacklist is exactly the bots and every table outside the bot
  * province is independent of how events fall into micro-batches. A
  * few events arrive late, well inside the 2-minute trend watermark.
  * Event time advances with the event index at `ratePerSec`, so the
  * lines depend on the seed alone, never on when they are sent. */
final class AdLoad(seed: Long, ratePerSec: Int) {
  import AdLoad._
  private val rnd = new SplittableRandom(seed)
  private var n = 0L
  private val perUserAd = new java.util.HashMap[java.lang.Long, Integer]()

  private def zipfCdf(k: Int, s: Double): Array[Double] = {
    val c = new Array[Double](k)
    var acc = 0.0
    var i = 0
    while (i < k) { acc += 1.0 / math.pow(i + 1, s); c(i) = acc; i += 1 }
    c
  }
  private val userCdf = zipfCdf(Users, 1.0)
  private val adCdf = zipfCdf(Ads, 1.1)
  private def draw(cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf.last)
    if (i >= 0) i else -i - 1
  }

  def next(): String = {
    val ts0 = T0Ms + n * 1000L / ratePerSec
    n += 1
    val ts = if (rnd.nextDouble() < LateShare) ts0 - 20000L - rnd.nextInt(40000) else ts0
    if (rnd.nextDouble() < BotShare) {
      val b = rnd.nextInt(Bots)
      s"$ts $BotProvince ${BotCities(b % BotCities.size)} ${BotIds(b)} ${b + 1}"
    } else {
      var user, ad = 0L
      var ok = false
      while (!ok) {
        user = FirstUser + draw(userCdf); ad = draw(adCdf).toLong
        val k = user * 1000 + ad
        val c = perUserAd.getOrDefault(k, 0)
        if (c < UserAdCap) { perUserAd.put(k, c + 1); ok = true }
      }
      val home = (user * 2654435761L) >>> 7
      val prov = Provinces((home % Provinces.size).toInt)
      s"$ts ${prov._1} ${prov._2((home / 7 % 2).toInt)} $user $ad"
    }
  }

  def lines(k: Int): Seq[String] = Seq.fill(k)(next())
}

object AdLoad {
  /** 2026-01-01 00:10 UTC: late events never cross back into the
    * previous day. */
  val T0Ms = 1767226200000L
  val Users = 50000
  /** Keys of the day before T0Ms that the store holds before the job
    * starts, with users from here up. */
  val HistoryDay = "2025-12-31"
  val HistoryUser = 1000000L
  val FirstUser = 1000L
  val Ads = 100
  val UserAdCap = 90
  val LateShare = 0.005
  val Bots = 3
  val BotIds: Seq[Long] = Seq(7L, 8L, 9L)
  val BotShare = 0.0375
  val BotProvince = "Hebei"
  val BotCities: Seq[String] = Seq("Shijiazhuang", "Tangshan")
  val Provinces: Seq[(String, Seq[String])] = Seq(
    "Jiangsu" -> Seq("Nanjing", "Suzhou"), "Hubei" -> Seq("Wuhan", "Jingzhou"),
    "Hunan" -> Seq("Changsha", "Xiangtan"), "Henan" -> Seq("Zhengzhou", "Luoyang"))
}
