package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.{CorpusPipeline, PipelineConfig}

/** Runnable end-to-end corpus preparation over the testdata documents:
  * quality → exact dedup → near dedup → sample, printing the stage funnel
  * as one JSON line.
  *
  * `SPARK_GRAFT_SF_DIR` (default sf0.01) selects the input scale.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.table(spark, sfDir, "documents")
    val (corpus, funnel) = CorpusPipeline.prepare(docs,
      PipelineConfig(minTokens = 5, maxPunctRatio = 0.3,
        jaccard = 0.8, sampleBp = 8000, iqrOutlierK = Some(3.0)))
    val out = corpus.count()
    val violations = CorpusPipeline.validate(corpus)
      .collect().map(r => s""""${r.getString(0)}":${r.getLong(1)}""")
      .mkString("{", ",", "}")
    val stages = funnel.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    println(s"""{"stages":$stages,"final":$out,"validation":$violations,"sf":"$sfDir"}""")
    spark.stop()
  }
}
