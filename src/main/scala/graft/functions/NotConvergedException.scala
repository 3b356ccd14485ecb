package graft.functions

/** An iterative operator hit its round cap while its state was still
  * changing: the labels or edges it holds are a partial result, not the
  * fixpoint, so it throws instead of returning them. `changed` is what
  * moved in the last round run (labels relabelled, or edges peeled).
  */
final class NotConvergedException(val operator: String, val rounds: Int, val changed: Long)
    extends IllegalStateException(
      s"$operator did not converge within $rounds rounds " +
        s"($changed still changing in the last round); raise the round cap")
