package graft

import org.apache.spark.sql.SparkSession

/** Runs a body under one value of [[Materialize.StrategyKey]], with a
  * fresh checkpoint dir (read by `checkpoint`) that is deleted with the
  * run: a real deployment keeps the files for recovery, tests must not
  * accumulate them.
  */
object WithStrategy {
  def apply[T](spark: SparkSession, strategy: String)(body: => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(Materialize.StrategyKey, strategy)
    try body
    finally {
      spark.conf.unset(Materialize.StrategyKey)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir.toFile)
    }
  }
}
