package graftbench

import java.nio.file.{Files, Paths}

/** Writes `SparkEntry.oracleSql` as JSON, so run.py can compute the
  * DuckDB ground truth of the fixed corpora once, before any timed run.
  *
  * Usage: graftbench.Oracles <out.json>
  */
object Oracles {
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)), Json(graft.SparkEntry.oracleSql))
}
