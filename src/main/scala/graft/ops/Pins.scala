package graft.ops

import org.apache.spark.sql.{DataFrame, GraftBridge}

/** Owner of `localCheckpoint` barriers whose blocks outlive the call
  * that made them. A function whose result reads such a barrier
  * lazily takes a `Pins` and checkpoints through it; whoever owns the
  * `Pins` decides when the blocks go. A long-running loop opens one
  * per trigger and closes it once that trigger's output has
  * materialized. A one-shot caller passes a fresh `Pins` (the default
  * argument) and never closes it: the ContextCleaner frees the blocks
  * once the result is unreachable.
  *
  * A frame pinned here is valid until [[close]]; after that, reading
  * it fails (a local checkpoint cannot recompute). Two results pinned
  * by different `Pins` never invalidate each other.
  */
final class Pins {
  private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private var closed = false

  /** `df.localCheckpoint(eager)`, recorded for [[close]] — or `df`
    * itself, recording nothing, when it already reads a persisted RDD
    * ([[GraftBridge.checkpointBacked]]): a second copy would only pin
    * more blocks, and the first copy belongs to someone else.
    */
  def apply(df: DataFrame, eager: Boolean = true): DataFrame = synchronized {
    if (closed) throw new IllegalStateException("Pins: checkpoint after close()")
    if (GraftBridge.checkpointBacked(df)) df
    else {
      val c = df.localCheckpoint(eager)
      held += c
      c
    }
  }

  /** Unpersist every recorded checkpoint. Idempotent. */
  def close(): Unit = synchronized {
    closed = true
    held.foreach(GraftBridge.unpersistCheckpoint)
    held.clear()
  }
}
