package graft.tools

import graft.schema.Storage

/** Dev main: [[graft.Verify]] for a subset of queries — fast iteration on
  * one operator without dumping all of them. Writes the named queries'
  * parquet results and the COMPLETE `oracle_sql.json`, so partial runs
  * into one directory assemble a full dump.
  * Usage: runMain graft.tools.VerifySome <sfDir> <outDir> <name> [<name>…]
  */
object VerifySome {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: VerifySome <sfDir> <outDir> <name> [<name>…]")
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2)
    val spark = DevSession("graft-verify-some")
    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case Some(fn) =>
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify-some] $name failed: ${e.getMessage}")
          }
        case None => System.err.println(s"[verify-some] unknown query: $name")
      }
    }
    Storage.writeString(s"$outDir/oracle_sql.json", graft.Verify.oracleJson)
    spark.stop()
  }
}
