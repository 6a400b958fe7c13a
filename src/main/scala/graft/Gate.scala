package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** One `graft.*` size cap — the "small enough for the driver, a broadcast,
  * or one bucket?" choice — declared once per module as a `val`.
  *
  * [[cap]] reads the session conf (else `default`) and requires
  * `min <= cap < Int.MaxValue`: [[collect]] probes with `limit(cap + 1)`,
  * which a cap at Int.MaxValue would wrap negative and a larger one cannot
  * express. Out-of-range and non-integer values throw an
  * `IllegalArgumentException` naming the conf. `min` is 0 where 0 means
  * "always take the over-cap branch", 1 where the cap divides or sizes a
  * bucket. The first time a JVM takes each (conf, branch) through [[fits]]
  * or [[collect]] it logs one INFO line.
  */
final case class Gate(conf: String, default: Int, min: Int) {

  def cap(s: SparkSession): Int = {
    val v = s.conf.getOption(conf).fold(default.toLong)(r =>
      r.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$conf must be an integer in [$min, ${Int.MaxValue}), got '$r'")))
    require(v >= min && v < Int.MaxValue,
      s"$conf must be in [$min, ${Int.MaxValue}), got $v")
    v.toInt
  }

  /** Whether a count the caller already holds fits the cap. */
  def fits(s: SparkSession, n: Long): Boolean = {
    val c = cap(s)
    Gate.note(conf, n <= c, n.toString, c)
  }

  /** The one bounded probe: `Some(rows)` when all of `ds` fits the cap (the
    * probe IS the collect), else `None`; at most cap + 1 rows are pulled. */
  def collect[T](ds: Dataset[T]): Option[Array[T]] = {
    val c = cap(ds.sparkSession)
    val rows = ds.limit(c + 1).collect()
    val fit = rows.length <= c
    Option.when(Gate.note(conf, fit, if (fit) rows.length.toString else s"> $c", c))(rows)
  }
}

object Gate {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[Gate])

  /** Every `conf:branch` this JVM has taken, branch "fits" or "over". */
  private[graft] val taken = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def note(conf: String, fit: Boolean, n: String, cap: Int): Boolean = {
    val branch = if (fit) "fits" else "over"
    if (taken.add(s"$conf:$branch"))
      log.info(s"$conf: $n rows against cap $cap, took the '$branch' branch")
    fit
  }
}
