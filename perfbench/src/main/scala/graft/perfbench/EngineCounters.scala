package graft.perfbench

import graft.engine.FusionEngine

/** Read-only view of the engine's package-private HNSW build counter. */
object EngineCounters {
  def hnswFullBuilds(e: FusionEngine): Long = e.hnswFullBuilds.get()
}
