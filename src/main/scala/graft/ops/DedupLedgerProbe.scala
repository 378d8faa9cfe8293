package graft.ops

import org.apache.spark.sql.DataFrame

/** Test/profiling access to DedupLedger's private exact-row derivation. */
object DedupLedgerProbe {
  def exactRowsOf(docs: DataFrame): DataFrame = DedupLedger.exactRows(docs)
}
