package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{FunctionTable, SqlFunction}

/** Session facade for the graft engine — the analogue of the reference's
  * `SessionContext` setup + `register_udaf` calls
  * (reference: examples/retention.rs:17-20,
  * tests/sqllogictests/src/main.rs:241-283).
  */
object Graft {

  /** Builds a local session tuned for this machine. On a real cluster the
    * caller owns the builder and only needs [[registerAll]].
    */
  def localSession(
      appName: String = "graft",
      cores: Int = Runtime.getRuntime.availableProcessors(),
      shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerAll(spark)
    spark
  }

  /** Registers every SQL-callable function the library provides
    * ([[graft.functions.FunctionTable]]) in the session's function
    * registry — the analogue of the reference's `ctx.register_udaf`
    * (examples/retention.rs:19-20). Idempotent: a name that already holds
    * graft's own builder (an earlier call, or [[GraftExtensions]]) is left
    * as it is. */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    FunctionTable.all.foreach { f =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(f.name)).exists(_ eq f.builder))
        registry.createOrReplaceTempFunction(f.name, f.builder, "scala_udf")
    }
  }

  /** Applies S3A object-store configuration to the session's Hadoop conf —
    * the Spark analogue of the reference's `register_object_store` +
    * listing-table setup over a MinIO endpoint
    * (reference: tests/test_with_minio.rs:84-92). After this,
    * `spark.read.parquet("s3a://bucket/path/")` performs the same listing
    * scan (with parquet pruning, on by default in Spark).
    */
  def s3aConf(
      spark: SparkSession,
      endpoint: String,
      accessKey: String,
      secretKey: String,
      pathStyleAccess: Boolean = true,
      sslEnabled: Boolean = false): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.endpoint", endpoint)
    hc.set("fs.s3a.access.key", accessKey)
    hc.set("fs.s3a.secret.key", secretKey)
    hc.set("fs.s3a.path.style.access", pathStyleAccess.toString)
    hc.set("fs.s3a.connection.ssl.enabled", sslEnabled.toString)
    hc.set("fs.s3a.aws.credentials.provider",
      "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider")
  }
}

/** Config-based injection: `--conf spark.sql.extensions=graft.GraftExtensions`
  * makes every function of [[graft.functions.FunctionTable]] available in
  * every session of a cluster without code changes (the deployment-style
  * analogue of [[Graft.registerAll]], with the same builders and checks).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    FunctionTable.all.foreach(f =>
      e.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(classOf[SqlFunction].getName, f.name), f.builder)))
}
