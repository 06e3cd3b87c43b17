package graft.queries

/** The one convergence loop behind the iterative operators (BFS,
  * closeness, SCC, the two connected-components engines, k-core and the
  * dedup cluster labeler). It owns the round counter, the cap and the
  * stop test; each caller keeps its own step body, checkpoint
  * placement, cap constant and failure message. */
private[graft] object Iterate {

  /** What [[fixpoint]] stopped with: the last state and the rounds run.
    * `converged` says whether `done` holds for the last state. When
    * `done` stopped the loop that is already known; when the cap
    * stopped it, `done` runs once more on first read. A caller whose
    * cap is a plain depth bound never reads it, so a `done` that issues
    * a Spark action costs nothing extra. */
  final class Fixpoint[S](val state: S, val rounds: Int, test: => Boolean) {
    lazy val converged: Boolean = test
  }

  /** Runs `step` from `init` until `done` holds or `maxRounds` rounds
    * have run. Before every round the cap is checked first and `done`
    * second, so `done` runs once per round and never past the cap.
    * `step` receives the 1-based index of the round it computes. */
  def fixpoint[S](init: S, maxRounds: Int)(done: S => Boolean)(step: (S, Int) => S): Fixpoint[S] = {
    var state = init
    var rounds = 0
    while (rounds < maxRounds && !done(state)) {
      rounds += 1
      state = step(state, rounds)
    }
    val (last, n) = (state, rounds)
    new Fixpoint(last, n, n < maxRounds || done(last))
  }
}
