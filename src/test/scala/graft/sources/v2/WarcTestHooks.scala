package graft.sources.v2

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream

/** Test-tree access to `private[v2]` streaming internals: the restart
  * spec drives offset → plan directly on a fresh stream object (the
  * replay path), which no public API exposes without a full query.
  */
object WarcTestHooks {
  def microBatchStream(
      dir: String, chunkBytes: Long, offsetMode: String): MicroBatchStream = {
    val spark = graft.TestSession.spark
    new WarcMicroBatchStream(dir, chunkBytes, WarcDataSource.schema,
      offsetMode, spark, spark.sessionState.newHadoopConf())
  }

  def partitionPath(p: InputPartition): String =
    p.asInstanceOf[WarcInputPartition].path
}
