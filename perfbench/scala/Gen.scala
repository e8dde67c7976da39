package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.commons.math3.special.Erf

/** One generated card transaction. `tx_id` is a stable row key, so anomaly
  * sets from different scorers can be compared row by row. */
final case class Tx(tx_id: Long, latitude: Double, longitude: Double, amount: Double, user: String)

/** A generated input set: the rows, each user's home places, and each
  * user's size rank (0 = fewest rows). */
final case class Generated(rows: Array[Tx], homes: Map[String, Array[(Double, Double)]],
                           rank: Map[String, Int])

/** Seeded transaction generator with the shape the reference notebooks
  * describe: every user spends around a few home places, plus a small share
  * of off-pattern spend anywhere in the city.
  *
  *  - bounding box: the reference's NYC box, lat 40.70–40.76, lng −74.02…−73.94;
  *  - 1–6 home places per user, each row scattered around its home with a
  *    Gaussian of σ = 40 m;
  *  - user sizes log-normal (σ = 0.8 in log space) around a chosen mean,
  *    clipped so that no user holds more than 1% of the rows;
  *  - 1% of rows uniform over the box (the anomalies the pipeline hunts).
  *
  * User sizes are the log-normal quantiles and home counts cycle through
  * 1–6 over the size ranks, so every seed carries the same amount of work;
  * the seed decides which user gets which rank, where homes lie, and every
  * row. The same seed always gives the same rows. */
object Gen {
  val LatMin = 40.70
  val LatMax = 40.76
  val LngMin = -74.02
  val LngMax = -73.94
  val HomeSigmaM = 40.0
  val SizeSigma = 0.8
  val NoiseShare = 0.01
  val MaxUserShare = 0.01

  private val MetersPerDegLat = 111320.0

  /** Rows per size rank: log-normal quantiles at (i + ½)/users, clipped at
    * 1% of their own total. */
  def userSizes(users: Int, meanRows: Int): Array[Int] = {
    val mu = math.log(meanRows.toDouble) - SizeSigma * SizeSigma / 2
    val raw = Array.tabulate(users) { i =>
      math.exp(mu + SizeSigma * math.sqrt(2) * Erf.erfInv(2 * (i + 0.5) / users - 1))
    }
    var cap = MaxUserShare * raw.sum
    (1 to 50).foreach(_ => cap = MaxUserShare * raw.map(math.min(_, cap)).sum)
    raw.map(s => math.max(1, math.min(s, cap).toInt))
  }

  def transactions(seed: Long, users: Int, meanRows: Int): Generated = {
    val rnd = new java.util.Random(seed)
    val sizes = userSizes(users, meanRows)
    val order = Array.range(0, users)
    (users - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val rows = Array.newBuilder[Tx]
    val homes = Map.newBuilder[String, Array[(Double, Double)]]
    var id = 0L
    def uniformPoint(): (Double, Double) =
      (LatMin + rnd.nextDouble() * (LatMax - LatMin), LngMin + rnd.nextDouble() * (LngMax - LngMin))
    (0 until users).foreach { u =>
      val user = f"u$u%05d"
      val size = sizes(order(u))
      val places = Array.fill(1 + order(u) % 6)(uniformPoint())
      val weights = places.map(_ => 0.2 + rnd.nextDouble())
      val cumulative = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
      homes += user -> places
      (0 until size).foreach { _ =>
        val (lat, lng) =
          if (rnd.nextDouble() < NoiseShare) uniformPoint()
          else {
            val pick = rnd.nextDouble()
            val (hLat, hLng) = places(math.max(0, cumulative.indexWhere(pick <= _)))
            val dLat = HomeSigmaM * rnd.nextGaussian() / MetersPerDegLat
            val dLng = HomeSigmaM * rnd.nextGaussian() / (MetersPerDegLat * math.cos(math.toRadians(hLat)))
            (hLat + dLat, hLng + dLng)
          }
        val amount = math.rint(math.exp(3.0 + rnd.nextGaussian()) * 100) / 100
        rows += Tx(id, lat, lng, amount, user)
        id += 1
      }
    }
    Generated(rows.result(), homes.result(),
      (0 until users).map(u => f"u$u%05d" -> order(u)).toMap)
  }

  /** SHA-256 over every field of every row, in order. */
  def rowHash(rows: Array[Tx]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = ByteBuffer.allocate(32)
    rows.foreach { t =>
      buf.clear()
      buf.putLong(t.tx_id).putDouble(t.latitude).putDouble(t.longitude).putDouble(t.amount)
      md.update(buf.array(), 0, buf.position())
      md.update(t.user.getBytes(UTF_8))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Checks that a generated set has the shape asked for. Returns one
    * (check name, passed, detail) triple per check:
    *  - the same seed regenerates the same row hash, another seed does not;
    *  - no user holds more than ~1% of the rows;
    *  - the spread of log user sizes and the p90/p50 size ratio match the
    *    log-normal σ;
    *  - the share of rows far (> 4σ) from all of their user's homes matches
    *    the noise share. */
  def verify(g: Generated, seed: Long, users: Int, meanRows: Int): Seq[(String, Boolean, String)] = {
    val hash = rowHash(g.rows)
    val again = rowHash(transactions(seed, users, meanRows).rows)
    val other = rowHash(transactions(seed + 1, users, meanRows).rows)
    val n = g.rows.length.toDouble
    val sizes = g.rows.groupBy(_.user).values.map(_.length.toDouble).toSeq
    val maxShare = sizes.max / n
    val logs = sizes.map(math.log)
    val logMean = logs.sum / logs.size
    val logSd = math.sqrt(logs.map(x => (x - logMean) * (x - logMean)).sum / (logs.size - 1))
    val bySize = sizes.sorted
    val p90OverP50 = bySize((bySize.length * 9) / 10) / bySize(bySize.length / 2)
    val p90OverP50Asked = math.exp(1.2816 * SizeSigma)
    val farM = 4 * HomeSigmaM
    val far = g.rows.count { t =>
      g.homes(t.user).forall { case (la, ln) =>
        graft.geo.Haversine.meters(t.latitude, t.longitude, la, ln) > farM }
    }
    val farShare = far / n
    Seq(
      ("gen.same_seed_same_hash", hash == again && hash != other, s"hash=${hash.take(16)}"),
      ("gen.max_user_share", maxShare <= MaxUserShare * 1.1, f"max user share ${maxShare * 100}%.3f%%"),
      ("gen.size_tail", math.abs(logSd - SizeSigma) <= 0.25 * SizeSigma &&
        math.abs(p90OverP50 / p90OverP50Asked - 1) <= 0.15,
        f"log-size sd $logSd%.3f (asked $SizeSigma), p90/p50 $p90OverP50%.2f (asked $p90OverP50Asked%.2f)"),
      ("gen.noise_share", math.abs(farShare - NoiseShare) <= 0.25 * NoiseShare,
        f"far-from-home share ${farShare * 100}%.3f%% (asked ${NoiseShare * 100}%.1f%%)"))
  }
}
