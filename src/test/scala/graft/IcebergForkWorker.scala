package graft

import graft.materialize.IcebergWriter

/** Test-support main FORKED AS A SEPARATE JVM by IcebergWriterSpec's
  * cross-process conflict test: appends one fixed row to the Iceberg
  * table at args(0) and exits 0 on success. The parent test sets the
  * GRAFT_ICEBERG_TEST_CLAIM_* env hooks so this process deterministically
  * computes a metadata version, signals, sleeps, and LOSES the
  * version-file claim to the parent's interleaved commit — proving the
  * atomic-claim + refresh-retry path across real process boundaries
  * (the in-JVM lock cannot serialize two processes). */
object IcebergForkWorker {
  def main(args: Array[String]): Unit = {
    val spark = EngineDefaults.local(2, 2).getOrCreate()
    // arm the commit-race hook from THIS process's env — the
    // production commit path only reads the in-process var, so env
    // vars on a deployment can never reach it
    for {
      ms <- sys.env.get("GRAFT_ICEBERG_TEST_CLAIM_DELAY_MS")
      mk <- sys.env.get("GRAFT_ICEBERG_TEST_CLAIM_MARKER")
    } IcebergWriter.testClaimHook = Some((ms.toLong, mk))
    try {
      import spark.implicits._
      IcebergWriter.append(spark, args(0),
        Seq((1000L, "worker")).toDF("id", "name"))
    } finally spark.stop()
  }
}
