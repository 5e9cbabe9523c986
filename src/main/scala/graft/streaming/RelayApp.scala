package graft.streaming

import graft.SparkEntry

/** Runnable relay with the reference's exact configuration surface
  * (env vars + defaults, /root/reference/main.go:28-79):
  *
  *   KAFKA_BOOTSTRAP_SERVERS  (localhost:9092)   main.go:28-31
  *   KAFKA_ACKS               (all)              main.go:33-36
  *   MONGO_URI                (mongodb://localhost:27017)  main.go:66-69
  *   MONGO_DB                 (test)             main.go:71-74
  *   MONGO_COLLECTION         (test_new)         main.go:76-79
  *
  * plus engine-side additions: SOURCE_DIR / OUT_DIR / CHECKPOINT_DIR for
  * the connector-free local mode. With the MongoDB Spark connector and
  * kafka-sql jars on the classpath, [[RelayConfig.sourceOptions]] /
  * [[RelayConfig.kafkaSinkOptions]] plug directly into
  * `readStream.format("mongodb")` / `writeStream.format("kafka")` — the
  * relay transforms are identical either way.
  */
object RelayApp {

  final case class RelayConfig(
      kafkaBootstrapServers: String,
      kafkaAcks: String,
      mongoUri: String,
      mongoDb: String,
      mongoCollection: String,
      sourceDir: Option[String],
      outDir: String,
      checkpointDir: String)

  object RelayConfig {
    /** Env parsing with the reference's defaults (main.go:28-79). */
    def fromEnv(env: Map[String, String] = sys.env): RelayConfig = RelayConfig(
      kafkaBootstrapServers = env.getOrElse("KAFKA_BOOTSTRAP_SERVERS", "localhost:9092"),
      kafkaAcks = env.getOrElse("KAFKA_ACKS", "all"),
      mongoUri = env.getOrElse("MONGO_URI", "mongodb://localhost:27017"),
      mongoDb = env.getOrElse("MONGO_DB", "test"),
      mongoCollection = env.getOrElse("MONGO_COLLECTION", "test_new"),
      sourceDir = env.get("SOURCE_DIR"),
      outDir = env.getOrElse("OUT_DIR", "/tmp/graft-relay/out"),
      checkpointDir = env.getOrElse("CHECKPOINT_DIR", "/tmp/graft-relay/checkpoint"))

    implicit class Ops(val c: RelayConfig) extends AnyVal {
      /** Reader options for the MongoDB Spark connector v10 change-stream
        * source — the UNPREFIXED key shape `readStream.format("mongodb")
        * .options(...)` expects (the `spark.mongodb.read.*` prefix form is
        * only for SparkConf-level defaults).
        */
      def sourceOptions: Map[String, String] = Map(
        "connection.uri" -> c.mongoUri,
        "database" -> c.mongoDb,
        "collection" -> c.mongoCollection,
        // full post-image per update, as the reference requests
        // (UpdateLookup, main.go:92)
        "change.stream.lookup.full.document" -> "updateLookup")

      /** Options for the Kafka sink (acks parity with main.go:33-41). */
      def kafkaSinkOptions: Map[String, String] = Map(
        "kafka.bootstrap.servers" -> c.kafkaBootstrapServers,
        "kafka.acks" -> c.kafkaAcks)
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = RelayConfig.fromEnv()
    val spark = SparkEntry.localSession(
      sys.env.get("SPARK_MASTER").map("spark.master" -> _).toSeq: _*)
    val srcDir = cfg.sourceDir.getOrElse(
      sys.error("SOURCE_DIR must point at a change-event JSON directory " +
        "(connector-free local mode; Mongo connector jar not on classpath)"))
    // daemon by default, like the reference's forever-loop (main.go:103);
    // RELAY_DRAIN=true drains existing files once and exits
    val oneShot = sys.env.get("RELAY_DRAIN").contains("true")
    val query = ChangeStreamRelay.run(spark, srcDir, cfg.outDir, cfg.checkpointDir,
      oneShot = oneShot)
    query.awaitTermination()
    spark.stop()
  }
}
