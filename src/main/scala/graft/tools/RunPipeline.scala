package graft.tools

import graft.GraftSession
import graft.pipeline.{Pipeline, MonthlyRewards, Ingest}

/** Dev entrypoint: run the full cashback ELT on a rewards and a
  * transactions CSV extract and print the stage results (the
  * §3.1/§3.2/§3.3 flow end-to-end).
  *
  * Usage: runMain graft.tools.RunPipeline <rewardsCsv> <transactionsCsv>
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println(
        "usage: runMain graft.tools.RunPipeline <rewardsCsv> <transactionsCsv>")
      sys.exit(2)
    }
    val Array(rewardsCsv, transactionsCsv) = args
    // a warehouse of its own per run, deleted at exit: the in-memory catalog
    // forgets the table between runs, a shared directory would not
    val warehouse = java.nio.file.Files.createTempDirectory("graft-warehouse")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(warehouse.toFile)))
    val spark = GraftSession.builder()
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val r1 = Pipeline.run(spark, rewardsCsv, transactionsCsv)
    println(s"run1: transformed=${r1.cashbackRows} appended=${r1.appendedRows}")
    val r2 = Pipeline.run(spark, rewardsCsv, transactionsCsv)
    println(s"run2 (idempotency): transformed=${r2.cashbackRows} appended=${r2.appendedRows}")
    println(s"warehouse rows: ${spark.table("cashback").count()}")
    println(s"partitions: ${spark.sql("SHOW PARTITIONS cashback").count()}")

    val monthly = MonthlyRewards.monthlyCount(
      Ingest.normalizeRewards(Ingest.csvAllStrings(spark, rewardsCsv))
        .selectExpr("reward_id", "reason", "cast(plu_amount as double) plu_amount",
          "cast(createdAt as timestamp) createdAt", "cast(plu_amount as double) plu_price"))
    monthly.orderBy("month").show(5, truncate = false)
    spark.stop()
  }
}
