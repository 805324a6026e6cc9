package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.streaming.state.StateStore

/** Access to engine internals the restart workload needs from outside. */
object Bridge {
  /** Close every state store provider loaded in this JVM, as an executor
    * loss would, so the next query rebuilds state from durable files. */
  def unloadAllStateStores(): Unit = StateStore.unloadAll()
}
