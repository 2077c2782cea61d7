package graft.perfbench

/** The committed state of a versioned store, read through graft's own
  * `MutableStore.state`, which is package-private to graft. */
object StoreState {
  final case class Summary(liveLegs: Int, tombstones: Int, retainedVersions: Int)

  def read(dir: String): Summary = {
    val s = graft.io.MutableStore.state(dir)
    Summary(s.live.map(_.size).getOrElse(0), s.liveTombs.map(_.size).getOrElse(0), s.priors.size)
  }
}
