package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-validation twins of two [[Dedup]] operators: the earlier SQL
  * formulations the codegen Expressions replaced. DedupSpec compares the
  * main-source operator against each twin; nothing in main reaches them. */
object DedupTwins {

  /** [[Dedup.simhashFrame]] as an exploded-word aggregate: one row per word,
    * then `nBits` ±1 vote sums per document and bit assembly. */
  def simhashFrameAgg(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashFromWordHashes(words(df, textCol, idCol)
      .select(col("id"), xxhash64(col("w")).as("h")), 64)

  /** [[Dedup.simhashFramePortable]] as an exploded-word aggregate over
    * `int(md5(word)[0:15 hex])`. */
  def simhashFramePortableAgg(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashFromWordHashes(words(df, textCol, idCol).select(col("id"),
      conv(substring(md5(col("w")), 1, 15), 16, 10).cast("bigint").as("h")), 60)

  private def words(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("w"))

  private def simhashFromWordHashes(wordHashes: DataFrame, nBits: Int): DataFrame = {
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

  /** [[Dedup.winnowSelected]] in SQL windows: explode every gram, then two
    * window passes over one (doc_id, pos) sort. Pass 1 gives `wmin(e)`, the
    * min hash of the window ENDING at position e; position p is a minimum
    * of SOME window containing it iff `max(wmin(e) for e in [p, p+w−1])`
    * equals `h(p)` (wmin(e) ≤ h(p) for every window containing p, so
    * equality at the max IS existence). The hash is the md5 15-hex-char
    * prefix as a string, order-isomorphic to its numeric value. */
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
