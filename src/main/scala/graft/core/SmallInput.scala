package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.DataType

/** The one gate in front of every driver-side fast path.
  *
  * An iterative operator whose input is small replays its exact integer
  * arithmetic on the driver off one bounded collect; above the bound the
  * distributed loop runs unchanged. The bound is one session conf,
  * `spark.graft.smallBound`, read from the INPUT DataFrame's session, so a
  * child session can force the distributed path without touching its
  * parent. Unset, each operator family keeps its own default
  * ([[GraphBound]], [[ClusterBound]], [[TrainBound]]); `0` forces the
  * distributed path everywhere. The `spark.` prefix lets a JVM system
  * property (`-Dspark.graft.smallBound=0`) reach any session the process
  * builds. */
private[graft] object SmallInput {

  val Conf = "spark.graft.smallBound"

  /** GraphOps: rows of the probed edge / adjacency relation. */
  val GraphBound = 32768
  /** Dedup.clusters: candidate pairs. */
  val ClusterBound = 65536
  /** Similarity k-means / PQ training: quantized vectors. */
  val TrainBound = 16384

  /** The bound in effect for `df`: the session conf when set, else `default`. */
  def bound(df: DataFrame, default: Int): Int =
    df.sparkSession.conf.getOption(Conf).fold(default) { s =>
      val b = s.trim.toInt
      require(b >= 0 && b < Int.MaxValue, s"$Conf must be in [0, ${Int.MaxValue}): $s")
      b
    }

  /** All rows of `df` when it is driver-replayable: its column types pass
    * `schemaOk`, it has between 1 and [[bound]] rows, and no top-level
    * value is null. Otherwise None and the caller runs its distributed
    * path. Costs one `limit(bound + 1)` job; none when the bound is 0 or
    * the schema is refused. */
  def rows(df: DataFrame, default: Int,
      schemaOk: Seq[DataType] => Boolean = _ => true): Option[Array[Row]] = {
    val b = bound(df, default)
    if (b == 0 || !schemaOk(df.schema.fields.toSeq.map(_.dataType))) return None
    val rs = df.limit(b + 1).collect()
    if (rs.isEmpty || rs.length > b ||
        rs.exists(r => (0 until r.length).exists(r.isNullAt))) None
    else Some(rs)
  }
}
