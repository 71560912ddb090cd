package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked edit-distance matching — the fuzzy-key join behind entity
  * resolution over noisy string keys (product names, titles, author
  * strings). Reference has no analog; this is part of the
  * training-data-pipeline extension surface (SURVEY.md §2.5).
  *
  * Scale discipline: NEVER all-pairs. Candidates are generated by an
  * equi-join on a caller-chosen BLOCK key (shared token, phonetic code,
  * length band — anything cheap and recall-safe for the edit budget),
  * then pre-pruned by the length-difference lower bound
  * (`|len(a)−len(b)| ≤ maxDist` — a banded DP can never beat it), and
  * only the survivors pay the O(len·maxDist) banded Levenshtein
  * (Spark's 3-arg `levenshtein` short-circuits past the threshold).
  * The typical use runs over the DISTINCT key vocabulary — tiny
  * relative to the corpus — and maps matches back by equi-join. */
object Fuzzy {

  /** Within-block candidate pairs at edit distance ≤ `maxDist`.
    * `block` maps the string column to its blocking key. Emits each
    * unordered pair once (`id_a < id_b`) with the distance; recall is
    * bounded by the blocking choice — a true pair in different blocks
    * is never compared (the deliberate trade that avoids O(n²)).
    *
    * A null blocking key (e.g. "second token" of a single-token
    * string) is coalesced to the empty string, so degenerate inputs
    * land in one shared block and still get compared — matching SQL
    * `split_part` semantics (which returns `''`, never NULL) instead
    * of Spark's equi-join silently dropping null keys. */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String,
                 block: Column => Column, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist=$maxDist must be >= 0")
    val keyed = df.select(
      col(idCol).as("_fid"), col(strCol).as("_fs"),
      coalesce(block(col(strCol)), lit("")).as("_blk"),
      length(col(strCol)).as("_flen"))
    val a = keyed.select(col("_fid").as("id_a"), col("_fs").as("s_a"),
      col("_blk"), col("_flen").as("_la"))
    val b = keyed.select(col("_fid").as("id_b"), col("_fs").as("s_b"),
      col("_blk"), col("_flen").as("_lb"))
    a.join(b, Seq("_blk"))
      .filter(col("id_a") < col("id_b"))
      .filter(abs(col("_la") - col("_lb")) <= maxDist)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), maxDist))
      .filter(col("dist") >= 0) // 3-arg levenshtein returns -1 past the threshold
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"),
        col("dist").cast("long").as("dist"))
  }
}
