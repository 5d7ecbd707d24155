package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference formulations of two [[Dedup]] operators, kept only so DedupSpec
  * can pin the shipped codegen Expressions against an independent plain-SQL
  * derivation of the same result. Both were the production form before the
  * Expression replaced them (simhash and winnowing, round 15). */
object DedupTwins {

  /** [[Dedup.simhashFrame]] as an exploded-word vote aggregate. */
  def simhashFrameAgg(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashFromWordHashFrame(
      df.select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("w"))
        .select(col("id"), xxhash64(col("w")).as("h")),
      64)

  /** [[Dedup.simhashFramePortable]] as an exploded-word vote aggregate. */
  def simhashFramePortableAgg(df: DataFrame, textCol: String,
                              idCol: String): DataFrame =
    simhashFromWordHashFrame(
      df.select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("w"))
        .select(col("id"),
          conv(substring(md5(col("w")), 1, 15), 16, 10).cast("bigint").as("h")),
      60)

  /** SimHash assembly from word-level (id, h) hash rows: one partial/final
    * agg of `nBits` ±1 vote sums, then bit assembly. */
  private def simhashFromWordHashFrame(wordHashes: DataFrame, nBits: Int): DataFrame = {
    val voteCols = (0 until nBits).map { bit =>
      sum(when(shiftright(col("h"), bit).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v$bit")
    }
    wordHashes.groupBy("id").agg(voteCols.head, voteCols.tail: _*)
      .select(col("id"),
        (0 until nBits).map { bit =>
          when(col(s"v$bit") > 0, lit(1L << bit)).otherwise(lit(0L))
        }.reduce((a, b) => a.bitwiseOR(b)).as("sh"))
  }

  /** [[Dedup.winnowSelected]] as SQL windows: explode every gram, then two
    * window passes — pass 1 gives `wmin(e)` = min hash of the window ENDING
    * at position e; position p is a minimum of SOME window containing it iff
    * `max(wmin(e) for e in [p, p+w−1])` equals `h(p)` — wmin(e) ≤ h(p) for
    * every window containing p, so equality at the max IS existence. Both
    * passes share one (doc_id, pos) sort. The hash is the md5 15-hex-char
    * PREFIX as a string — hex is order-isomorphic to its numeric value, so
    * window min/max select the same positions. */
  def winnowSelectedWindowed(df: DataFrame, textCol: String, idCol: String,
                             k: Int, w: Int): DataFrame = {
    require(k >= 2 && w >= 2, "need k >= 2 and w >= 2")
    val grams = df.filter(length(col(textCol)) >= k + w - 1)
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"),
        (length(col(textCol)) - (k - 1)).cast("long").as("n_grams"))
      .withColumn("pos", explode(expr(s"sequence(1, length(__t) - ${k - 1}, 1)")))
      .withColumn("h",
        substring(md5(expr(s"substring(__t, pos, $k)")), 1, 15))
      .drop("__t")
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val back = ord.rowsBetween(-(w - 1), 0)
    val fwd = ord.rowsBetween(0, w - 1)
    grams
      .withColumn("wmin",
        when(col("pos") >= w, min(col("h")).over(back))) // null on partial windows
      .withColumn("sel_max", max(col("wmin")).over(fwd)) // max ignores nulls
      .filter(col("h") === col("sel_max"))
      .drop("wmin", "sel_max")
  }
}
