package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The curation pipeline's entry points as the CLI uses them, for the
  * benchmark, which lives outside `graft.llm`.
  */
object PerfbenchCurate {
  /** One `CurateMain` run: MERGE into `outDir/table`, write the report. */
  def run(s: SparkSession, corpusDir: String, outDir: String): Seq[(String, String, Long, Long)] =
    CurateMain.run(s, corpusDir, outDir)

  /** The curated relation `run` merges: survivors with their splits. */
  def curated(s: SparkSession, corpusDir: String): DataFrame = CurateMain.curated(s, corpusDir)

  /** Held-out benchmark documents, excluded at the gate. */
  def isBenchDoc: Column = TextQueries.isBenchDoc
}
