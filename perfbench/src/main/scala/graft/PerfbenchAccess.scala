package graft

import graft.operators.GoldMarts
import graft.sources.LayerStore

/** The one program-internal name the benchmark needs: the gold input
  * resolver over the written silver tables. With it the benchmark
  * calls runGold's mart steps one by one, and checks incremental
  * refreshes against a from-scratch build over the same silver. */
object PerfbenchAccess {
  def goldResolver(store: LayerStore): GoldMarts.Resolver = Pipeline.goldResolver(store)
}
