package graft.queries

/** Oracle preludes that oracles of more than one family share. Each
  * helper emits its CTE lines as `margin|line`, the form a stripMargin
  * literal interpolates, so the oracle text stays exactly what a pasted
  * copy would have produced. A prelude that one family alone uses lives
  * in that family's object.
  */
private[queries] object Preludes {

  def margined(margin: String, lines: Seq[String]): String =
    lines.map(l => margin + "|" + l).mkString("\n")

  /** The body of a daily-close CTE: each user's last value per UTC day. */
  val DailyClose: Seq[String] = Seq(
    "  SELECT user_id, date_trunc('day', ts) AS day, max_by(value, ts) AS close",
    "  FROM events GROUP BY 1, 2")

  def dailyClose(margin: String): String = margined(margin, DailyClose)

  /** `dc` daily closes, then `name`: each day's simple return, nulls and
    * zero-close divisions dropped. */
  def dailyReturns(margin: String, name: String = "r"): String =
    margined(margin, Seq("WITH dc AS (") ++ DailyClose ++ Seq(
      s"), $name AS (",
      "  SELECT user_id, day,",
      "    CASE WHEN lag(close) OVER w != 0 THEN close / lag(close) OVER w - 1 END AS ret",
      "  FROM dc WINDOW w AS (PARTITION BY user_id ORDER BY day)",
      "  QUALIFY ret IS NOT NULL"))

  /** `e` vectors as DOUBLE lists, then `cents`: the first 16 vectors by
    * `vec_id` as seed centroids. */
  val SeedCents: Seq[String] = Seq(
    "WITH e AS (",
    "  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings",
    "), cents AS (",
    "  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS c",
    "  FROM e QUALIFY cell < 16")

  def seedCents(margin: String): String = margined(margin, SeedCents)
}
