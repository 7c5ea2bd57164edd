package graft

import graft.gen.Synth

/** Write the deterministic synthetic interleaved corpus to parquet:
  *
  *   GenCorpus <outDir> <numDocs> [numFiles]
  */
object GenCorpus {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GenCorpus <outDir> <numDocs> [numFiles]")
    val outDir = args(0)
    val n = args(1).toLong
    val parts = if (args.length > 2) args(2).toInt else 32
    val spark = Session.create("graft-gen")
    Synth.corpus(spark, n, Some(parts)).write.mode("overwrite").parquet(outDir)
    println(s"""{"dir":"$outDir","docs":$n,"files":$parts}""")
    spark.stop()
  }
}
