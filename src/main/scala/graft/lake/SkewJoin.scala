package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Key-salting for skewed equi-joins (builder scale checklist: "skewed
  * keys → salting or AQE skew-join"). AQE's skew handling splits oversized
  * SHUFFLE partitions; salting is the complementary tool when one KEY
  * value itself is hot (AQE cannot split a single key's hash bucket for a
  * build-side aggregate or a shuffled hash join build).
  *
  * Shape: the skewed (large) side gets a random salt in [0, n); the small
  * side is replicated n× with every salt value; the join key becomes
  * (key, salt) — the hot key's rows spread over n reducers.
  */
object SkewJoin {

  /** Inner equi-join with the left side salted and the right side
    * replicated `salts`×. Row-level results are identical to
    * `left.join(right, leftKey === rightKey)`. The salt is derived from a
    * hash of the whole left row rather than rand() so results stay
    * deterministic and retry-safe (a failed task re-derives the same
    * salt). */
  def saltedEquiJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, salts: Int): DataFrame = {
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col).toIndexedSeq: _*), lit(salts)).cast("int"))
    val replicatedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLeft.join(replicatedRight,
        saltedLeft(leftKey) === replicatedRight(rightKey) &&
        saltedLeft("__salt") === replicatedRight("__salt"))
      .drop("__salt")
  }
}
