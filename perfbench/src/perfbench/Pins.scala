package perfbench

/** Row counts and order-independent content checksums of each workload's
  * output, pinned for the default seed (42) and one held-out seed (1234)
  * at the input sizes the workloads use. A change of input size or seed
  * derivation needs new pins; every other seed is checked by the
  * workloads' own recomputations only. */
object Pins {
  /** (workload, seed, size) -> (rows, checksum); size is the extract
    * workload's turns, the corpus_chain workload's documents, and for
    * epochs 100 x the document slices (epochs of a full run) + the epochs
    * the pass ran (a traced run's passes run fewer). */
  val pinned: Map[(String, Long, Long), (Long, Long)] = Map(
    ("extract", 42L, 2000L) -> (11818L, 825569153313800759L),
    ("extract", 1234L, 2000L) -> (11447L, 1145459164011639620L),
    ("epochs", 42L, 303L) -> (1500L, -6868920116397213281L),
    ("epochs", 1234L, 303L) -> (1500L, -6200982744625051040L),
    ("epochs", 42L, 302L) -> (1000L, -9108385672470312879L),
    ("epochs", 1234L, 302L) -> (1000L, -3686671479599748304L),
    ("corpus_chain", 42L, 1000L) -> (210L, 2561724538980355988L),
    ("corpus_chain", 1234L, 1000L) -> (211L, -7263120106224355244L))

  def check(checks: Checks, workload: String, seed: Long, size: Long, got: (Long, Long)): Unit = {
    System.err.println(s"[perfbench] output $workload seed=$seed size=$size rows=${got._1} " +
      s"checksum=${got._2}")
    pinned.get((workload, seed, size)).foreach { want =>
      checks.expect(got == want, s"$workload seed $seed: output (rows, checksum) $got, pinned $want")
    }
  }
}
