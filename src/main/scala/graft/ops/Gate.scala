package graft.ops

import org.apache.spark.sql.Dataset

/** The one local-vs-distributed switch: pick the physical algorithm from a
  * size measured at run time (Adaptive Execution of Compiled Queries,
  * ICDE'18). One action, `ds.limit(maxRows + 1).collect()`, is both the
  * size probe and the data fetch; CollectLimit stops once the cap is
  * reached. Nothing is persisted, so no branch (and no failed collect)
  * leaves a pin behind; a distributed plan that reads its input more than
  * once pins it itself.
  */
object Gate {

  /** `local(rows)` iff `ds` has at most `maxRows` rows, else `distributed`.
    * `maxRows` must be in `[0, Int.MaxValue)`: the probe fetches
    * `maxRows + 1` rows. */
  def localOr[T, R](ds: Dataset[T], maxRows: Int)(local: Array[T] => R)
      (distributed: => R): R = {
    require(maxRows >= 0 && maxRows < Int.MaxValue,
      s"maxRows must be in [0, Int.MaxValue), got $maxRows")
    // over the cap the probed rows are filtered away, so nothing still
    // references them while `distributed` runs
    Some(ds.limit(maxRows + 1).collect()).filter(_.length <= maxRows)
      .fold(distributed)(local)
  }
}
