package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Stages

/** Market-basket co-occurrence — the single-pass frequent-pair mining
  * primitive (the support+lift core of association-rule mining, and in
  * a curation pipeline the "which sources/domains co-occur in the same
  * crawl snapshot" affinity signal).
  *
  * Deliberately ONE self-join shape, not an Apriori loop: pairs are
  * generated per basket by an equi-join on the basket key (fan-out
  * bounded by max-basket-size², e.g. ≤ 7² per TPC-H order — never
  * item² or basket²), counted by a map-side-combinable hash
  * aggregation, and `minCount` prunes the long random-pair tail BEFORE
  * the per-item frequency joins. Lift = n_co · N / (n1 · n2) is an
  * exact-integer ratio in doubles < 2⁵³ — one rounding, bitwise
  * cross-engine.
  */
object Affinity {

  /** Frequent co-occurring item pairs with lift.
    *
    * `items` rows are (basket, item) memberships; duplicates collapse
    * (a basket contains an item or it doesn't), so counts are "number
    * of baskets containing BOTH", the standard support. Pairs are
    * canonical (item1 < item2). Lift > 1 ⇔ the pair co-occurs more
    * often than independent item frequencies predict.
    *
    * Skew note: a "popular item" is NOT a hot join key here — the
    * self-join key is the basket id (bounded fan-out); popularity only
    * widens the counted aggregate, which partial aggregation absorbs.
    * Output: (item1, item2, n_co, lift). */
  def coOccurrence(items: DataFrame, basketCol: String, itemCol: String,
                   minCount: Long = 2L): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val li = Stages.stage(items
      .select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .filter(col("basket").isNotNull && col("item").isNotNull)
      .distinct())
    val pairs = li.as("l")
      .join(li.as("r"),
        col("l.basket") === col("r.basket") && col("l.item") < col("r.item"))
      .groupBy(col("l.item").as("item1"), col("r.item").as("item2"))
      .agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= minCount)
    val freq = li.groupBy(col("item")).agg(count(lit(1)).as("nf"))
    val nb = li.select(countDistinct(col("basket")).as("__nb"))
    pairs
      .join(freq.select(col("item").as("item1"), col("nf").as("__n1")), Seq("item1"))
      .join(freq.select(col("item").as("item2"), col("nf").as("__n2")), Seq("item2"))
      .crossJoin(broadcast(nb))
      .select(col("item1"), col("item2"), col("n_co"),
        // denominator multiplies in DOUBLE: n1 * n2 in 64-bit integer
        // overflows (wraps, or throws under ANSI) once item frequencies
        // pass ~3e9 baskets — exactly the 100 TB regime
        round(col("n_co").cast("double") * col("__nb") /
          (col("__n1").cast("double") * col("__n2")), 6).as("lift"))
  }
}
