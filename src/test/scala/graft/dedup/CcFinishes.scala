package graft.dedup

import graft.SparkSpec

/** The two finishes of [[ConnectedComponents.run]]: every spec-sized
  * graph is under the driver-finish bound, so by default the driver
  * union-find labels it; `onLoop` lowers the bound to -1 for the calling
  * thread, forcing the distributed large-star/small-star loop.
  */
trait CcFinishes extends SparkSpec {
  def onLoop[T](body: => T): T =
    ConnectedComponents.driverMaxEdges.withValue(-1L)(body)

  /** Registers `body` once per finish; the loop variant's name says so. */
  def bothFinishes(name: String)(body: => Unit): Unit = {
    test(name)(body)
    test(s"$name (distributed loop)")(onLoop(body))
  }
}
