package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal private[sql]-access bridge (the standard pattern for Spark
  * ecosystem libraries shipping custom Catalyst expressions): converts
  * between the public Column API and catalyst Expressions. Nothing else
  * from Spark internals is accessed anywhere in this codebase. */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Clamp the size statistics a checkpointed frame INHERITS from its
    * origin plan. `Dataset.localCheckpoint`/`checkpoint` preserve the
    * origin's ESTIMATED `Statistics` on the resulting `LogicalRDD` so
    * broadcast decisions survive the cut — but in an iterative operator
    * whose per-round plan joins round-(r−1) cut frames on BOTH sides
    * (`Dedup.transitiveClusters`: relax + two pointer chases), the
    * estimate compounds MULTIPLICATIVELY across rounds (sizeInBytes_r ≈
    * sizeInBytes_{r−1}^j for j label-derived join sides) — doubly
    * exponential in the round count. The BigInt never touches
    * execution, but the driver's SizeInBytesOnlyStatsPlanVisitor
    * multiplies these integers on every plan it sizes: by round ~13
    * they are hundreds of millions of bits (minutes of single-core
    * driver CPU per round) and around round ~15
    * java.math.BigInteger overflows its supported range, killing the
    * job — found by the 21M-vertex CcScaleDemo (d521caa) rehearsal (a 1M-diameter
    * path needs ~14 rounds; every prior near-dup graph converged in ≤6
    * and kept the hazard invisible). Clamping to Long.MaxValue keeps
    * the semantic content ("too big to broadcast") while resetting
    * per-round growth to a bounded base. No-op for frames whose
    * inherited stats are sane — broadcast-size estimates are
    * untouched. */
  def clampCheckpointStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.execution.LogicalRDD
    val cap = BigInt(Long.MaxValue)
    df.queryExecution.logical match {
      case lr: LogicalRDD =>
        val st = lr.computeStats()
        if (st.sizeInBytes <= cap && st.rowCount.forall(_ <= cap)) df
        else {
          val clamped = Statistics(st.sizeInBytes.min(cap),
            st.rowCount.map(_.min(cap)), st.attributeStats, st.isRuntime)
          val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          org.apache.spark.sql.classic.Dataset.ofRows(spark,
            new LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
              lr.outputOrdering, lr.isStreaming, lr.stream)(
              spark, Some(clamped), Some(lr.constraints)))
        }
      case _ => df
    }
  }

  /** Drain the async listener bus so a profiler reading listener-fed
    * counters right after an action sees every event of that action
    * (r19 QueryProfile — measurement only, never on a query path). */
  def waitListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Non-blocking read of an [[org.apache.spark.sql.Observation]]
    * (`getOrEmpty` is private[sql]; the public `get` blocks forever if
    * the observed plan never runs as an action) — the observe-on-cut
    * pricing pattern (r20) polls this instead. */
  def observedOrEmpty(o: org.apache.spark.sql.Observation): Map[String, Any] =
    o.getOrEmpty

  /** Java-serializable Hadoop conf for shipping the session's filesystem
    * settings (fs.s3a credentials, fs.defaultFS, …) from the driver into
    * DSv2 reader factories. Spark's own wrapper is private[spark]. */
  def serializableConf(conf: org.apache.hadoop.conf.Configuration): SerializableHadoopConf =
    new SerializableHadoopConf(conf)
}

final class SerializableHadoopConf(@transient private var conf: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  def value: org.apache.hadoop.conf.Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new org.apache.hadoop.conf.Configuration(false)
    conf.readFields(in)
  }
}
