package graft.perfbench

import graft.SparkEntry.ArtifactLedger

/** Read access to the registry's artifact ledger, which records every
  * memoized artifact a query builds. */
object Ledger {
  def enable(): Unit = {
    ArtifactLedger.accessRecording = false
    ArtifactLedger.enabled = true
  }
  def drainBuilds(): Seq[String] = ArtifactLedger.drainBuilds()
}
