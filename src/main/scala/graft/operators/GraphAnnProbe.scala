package graft.operators

/** Test-only access to the package-private [[GraphAnn.Nsw]] for build
  * profiling (LayeredBuildProfileSpec) and beam-state lifetime
  * (GraphAnnSpec). */
object GraphAnnProbe {
  def build(vs: Array[Array[Double]], layered: Boolean): GraphAnn.Nsw =
    new GraphAnn.Nsw(vs, GraphAnn.Params(layered = layered)).build()
  def evals(nsw: GraphAnn.Nsw): Long = nsw.evals
  def evalsSelect(nsw: GraphAnn.Nsw): Long = nsw.evalsSelect
  def evalsPrune(nsw: GraphAnn.Nsw): Long = nsw.evalsPrune
  def beamStatesMade(nsw: GraphAnn.Nsw): Int = nsw.beamStatesMade
  def search(nsw: GraphAnn.Nsw, q: Array[Double], ef: Int): Array[(Int, Double)] =
    nsw.search(q, ef)
}
