package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{KafkaConfig, TaskConfig}
import graft.streaming.Pipeline

/** S1 option mapping + FL7 header routing, exercised without a broker:
  * the option map the Kafka source would receive (incl. SASL jaas) and
  * the `__table_name`-header routing branch over a constructed DataFrame
  * with a Kafka-shaped `headers` column (task/consumer.go:233-254,
  * input/kafka_franz.go:125-187).
  */
class KafkaRoutingSpec extends AnyFunSuite with LocalSpark {

  test("source options map brokers + TLS/SASL onto spark-kafka options (S1)") {
    val plain = KafkaConfig(brokers = "b1:9092,b2:9092")
    assert(plain.sourceOptions === Map("kafka.bootstrap.servers" -> "b1:9092,b2:9092"))

    val sasl = KafkaConfig(
      brokers = "b:9092",
      securityProtocol = Some("SASL_SSL"),
      saslMechanism = Some("PLAIN"),
      saslUsername = Some("svc"),
      saslPassword = Some("p\"w"))
    val opts = sasl.sourceOptions
    assert(opts("kafka.bootstrap.servers") === "b:9092")
    assert(opts("kafka.security.protocol") === "SASL_SSL")
    assert(opts("kafka.sasl.mechanism") === "PLAIN")
    val jaas = opts("kafka.sasl.jaas.config")
    assert(jaas.startsWith("org.apache.kafka.common.security.plain.PlainLoginModule required"))
    assert(jaas.contains("username=\"svc\"") && jaas.endsWith(";"))
    // the quote inside the password is escaped, not a string terminator
    assert(jaas.contains("""password="p\"w""""))
  }

  test("JAAS stanza escapes quotes/backslashes in credentials and paths") {
    import graft.config.GssapiConfig
    // a password crafted to close the quoted string and smuggle an extra
    // JAAS option must stay inert inside the quotes
    val evil = KafkaConfig(brokers = "b:9092",
      saslMechanism = Some("SCRAM-SHA-512"),
      saslUsername = Some("""u\er"""),
      saslPassword = Some("""x" debug="true"""))
    val jaas = evil.sourceOptions("kafka.sasl.jaas.config")
    assert(jaas ===
      """org.apache.kafka.common.security.scram.ScramLoginModule required username="u\\er" password="x\" debug=\"true";""")
    // windows-style keytab path: backslashes doubled, not swallowed
    val kt = KafkaConfig(brokers = "b:9092",
      saslMechanism = Some("GSSAPI"),
      gssapi = Some(GssapiConfig(authType = 2, username = "svc",
        keyTabPath = """C:\keytabs\svc.keytab""")))
    assert(kt.sourceOptions("kafka.sasl.jaas.config")
      .contains("""keyTab="C:\\keytabs\\svc.keytab""""))
  }

  test("SCRAM-SHA-256/512 select ScramLoginModule (kafka_franz.go:149-161)") {
    for (mech <- Seq("SCRAM-SHA-256", "SCRAM-SHA-512")) {
      val cfg = KafkaConfig(
        brokers = "b:9092",
        securityProtocol = Some("SASL_SSL"),
        saslMechanism = Some(mech),
        saslUsername = Some("svc"),
        saslPassword = Some("pw"))
      assert(cfg.sourceOptions === Map(
        "kafka.bootstrap.servers" -> "b:9092",
        "kafka.security.protocol" -> "SASL_SSL",
        "kafka.sasl.mechanism" -> mech,
        "kafka.sasl.jaas.config" ->
          """org.apache.kafka.common.security.scram.ScramLoginModule required username="svc" password="pw";"""))
    }
  }

  test("GSSAPI maps to Krb5LoginModule + service name (kafka_franz.go:162-184)") {
    import graft.config.GssapiConfig
    // keytab auth (authType 2, KRB5_KEYTAB_AUTH)
    val kt = KafkaConfig(
      brokers = "b:9092",
      securityProtocol = Some("SASL_PLAINTEXT"),
      saslMechanism = Some("GSSAPI"),
      gssapi = Some(GssapiConfig(serviceName = "kafka", authType = 2,
        username = "svc", realm = "EXAMPLE.ORG", keyTabPath = "/etc/krb5.keytab")))
    assert(kt.sourceOptions === Map(
      "kafka.bootstrap.servers" -> "b:9092",
      "kafka.security.protocol" -> "SASL_PLAINTEXT",
      "kafka.sasl.mechanism" -> "GSSAPI",
      "kafka.sasl.kerberos.service.name" -> "kafka",
      "kafka.sasl.jaas.config" ->
        ("""com.sun.security.auth.module.Krb5LoginModule required """ +
          """useKeyTab=true storeKey=true keyTab="/etc/krb5.keytab" """ +
          """principal="svc@EXAMPLE.ORG";""")))
    // user auth (authType 1, KRB5_USER_AUTH) -> ticket cache
    val user = kt.copy(gssapi = kt.gssapi.map(_.copy(authType = 1)))
    val jaas = user.sourceOptions("kafka.sasl.jaas.config")
    assert(jaas.contains("useTicketCache=true") && !jaas.contains("keyTab"))
    // GSSAPI without a gssapi block yields mechanism but no jaas (loud at
    // connect time rather than a half-formed stanza)
    val bare = kt.copy(gssapi = None)
    assert(!bare.sourceOptions.contains("kafka.sasl.jaas.config"))
  }

  test("__table_name header routes; missing header falls back to topic (FL7)") {
    import spark.implicits._
    val raw = Seq(
      ("m_header_match", "other_topic", Seq(("__table_name", "audit".getBytes("UTF-8")))),
      ("m_header_miss", "t1", Seq(("x-trace", "42".getBytes("UTF-8")))),
      ("m_no_match", "t2", Seq.empty[(String, Array[Byte])]),
      ("m_header_wrong", "t2", Seq(("__table_name", "other".getBytes("UTF-8")))))
      .toDF("value", "topic", "headers")
      .withColumn("headers",
        col("headers").cast("array<struct<key:string,value:binary>>"))
    val task = TaskConfig(name = "t", topic = "t1", consumerGroup = "g",
      tableName = "audit")
    val got = Pipeline.routingFilter(raw, task)
      .select(col("value")).as[String].collect().sorted.toSeq
    // header match wins regardless of topic; no header -> topic decides;
    // wrong header value -> dropped even if headerless topic would drop too
    assert(got === Seq("m_header_match", "m_header_miss"))
  }

  test("consumer lag sums latest-minus-consumed per topic-partition (A4)") {
    import graft.streaming.Metrics
    val end    = """{"t1":{"0":100,"1":40},"t2":{"0":7}}"""
    val latest = """{"t1":{"0":130,"1":40},"t2":{"0":10}}"""
    assert(Metrics.lagFromOffsets(end, latest) === 33L) // 30 + 0 + 3
    // a partition never consumed (just added) has its full watermark
    // outstanding
    assert(Metrics.lagFromOffsets("""{"t1":{"0":5}}""", """{"t1":{"0":5,"1":99}}""") === 99L)
    // non-Kafka offset shapes (file/memory sources) -> 0, never a crash
    assert(Metrics.lagFromOffsets("{\"logOffset\":3}", "3") === 0L)
    assert(Metrics.lagFromOffsets(null, null) === 0L)
  }

  test("headerless sources route purely by topic") {
    import spark.implicits._
    val raw = Seq(("a", "t1"), ("b", "t2")).toDF("value", "topic")
    val task = TaskConfig(name = "t", topic = "t1", consumerGroup = "g")
    val got = Pipeline.routingFilter(raw, task)
      .select(col("value")).as[String].collect().toSeq
    assert(got === Seq("a"))
  }
}
