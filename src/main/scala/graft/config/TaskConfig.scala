package graft.config

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.parse.Projector.Dim
import graft.types.ChType

/** Task/sink configuration mirroring the reference's HJSON task section
  * (SURVEY §3.2; `/root/reference/config/config.go:135-230`). Parsed with
  * Jackson (already on the Spark classpath); comments and trailing commas
  * — the HJSON extensions the reference's configs actually use — are
  * enabled via Jackson's JSON read features.
  */
/** GSSAPI (Kerberos) credentials, mirroring the reference's
  * `Sasl.GSSAPI` block (`/root/reference/config/config.go:90-99`):
  * authType 1 = user/password login, 2 = keytab
  * (`input/kafka_franz.go:44,170-180`).
  */
final case class GssapiConfig(
    serviceName: String = "kafka",
    authType: Int = 1,                  // 1 KRB5_USER_AUTH, 2 KRB5_KEYTAB_AUTH
    username: String = "",
    realm: String = "",
    keyTabPath: String = "",
    krb5ConfigPath: String = "")

final case class KafkaConfig(
    brokers: String,
    securityProtocol: Option[String] = None,
    saslMechanism: Option[String] = None,
    saslUsername: Option[String] = None,
    saslPassword: Option[String] = None,
    gssapi: Option[GssapiConfig] = None) {

  /** JAAS stanza per SASL mechanism, following the reference's mechanism
    * switch (`/root/reference/input/kafka_franz.go:139-187`): PLAIN and
    * SCRAM-SHA-256/512 are username/password against the matching login
    * module; GSSAPI maps to Krb5LoginModule with keytab or ticket-cache
    * auth per `authType`. Interpolated values are JAAS-escaped — a
    * password holding a double quote or backslash must not terminate the
    * quoted string (which would both break the stanza and let a crafted
    * value inject extra JAAS options).
    */
  private def jaasEsc(v: String): String =
    v.replace("\\", "\\\\").replace("\"", "\\\"")

  private def jaasConfig: Option[(String, String)] = saslMechanism.flatMap {
    case "PLAIN" =>
      for (u <- saslUsername; p <- saslPassword) yield
        "kafka.sasl.jaas.config" ->
          s"""org.apache.kafka.common.security.plain.PlainLoginModule required username="${jaasEsc(u)}" password="${jaasEsc(p)}";"""
    case "SCRAM-SHA-256" | "SCRAM-SHA-512" =>
      for (u <- saslUsername; p <- saslPassword) yield
        "kafka.sasl.jaas.config" ->
          s"""org.apache.kafka.common.security.scram.ScramLoginModule required username="${jaasEsc(u)}" password="${jaasEsc(p)}";"""
    case "GSSAPI" =>
      gssapi.map { g =>
        val principal =
          if (g.realm.nonEmpty) s"${g.username}@${g.realm}" else g.username
        val auth =
          if (g.authType == 2)
            s"""useKeyTab=true storeKey=true keyTab="${jaasEsc(g.keyTabPath)}""""
          else "useTicketCache=true"
        "kafka.sasl.jaas.config" ->
          s"""com.sun.security.auth.module.Krb5LoginModule required $auth principal="${jaasEsc(principal)}";"""
      }
    case _ => None
  }

  /** Every string field passed through [[EncSecrets.resolve]] — the
    * reference decrypts `ENC(...)` values across the whole config tree
    * right after load (`util/gosypt.go:46-89` reflective walk); this is
    * the same walk written out for this type.
    */
  def resolved: KafkaConfig = {
    import EncSecrets.{resolve => r}
    copy(brokers = r(brokers),
      securityProtocol = securityProtocol.map(r),
      saslMechanism = saslMechanism.map(r),
      saslUsername = saslUsername.map(r),
      saslPassword = saslPassword.map(r),
      gssapi = gssapi.map(g => g.copy(serviceName = r(g.serviceName),
        username = r(g.username), realm = r(g.realm),
        keyTabPath = r(g.keyTabPath),
        krb5ConfigPath = r(g.krb5ConfigPath))))
  }

  /** Kafka source options (SURVEY S1 mapping; mechanisms per
    * `input/kafka_franz.go:125-187`). `ENC(...)` credentials are
    * decrypted before the stanza is built (and before JAAS escaping).
    */
  def sourceOptions: Map[String, String] = resolved.rawSourceOptions

  private def rawSourceOptions: Map[String, String] =
    Map("kafka.bootstrap.servers" -> brokers) ++
      securityProtocol.map("kafka.security.protocol" -> _) ++
      saslMechanism.map("kafka.sasl.mechanism" -> _) ++
      (if (saslMechanism.contains("GSSAPI"))
        gssapi.map("kafka.sasl.kerberos.service.name" -> _.serviceName)
      else None) ++
      jaasConfig
}

final case class TaskConfig(
    name: String,
    topic: String,
    consumerGroup: String,
    earliest: Boolean = true,
    parser: String = "fastjson",        // fastjson|gjson|json -> variant; csv
    csvFormat: Seq[String] = Nil,
    delimiter: String = ",",
    fields: Map[String, String] = Map.empty, // static fields, raw JSON values
    tableName: String = "",
    dims: Seq[Dim] = Nil,
    excludeColumns: Seq[String] = Nil,
    dynamicSchema: Boolean = false,
    whiteList: Option[String] = None,
    blackList: Option[String] = None,
    shardingKey: String = "",
    shardingStripe: Long = 0L,
    bufferSize: Int = 262144,
    flushInterval: Int = 10,            // seconds (config.go:219-222,458-462)
    timeZone: String = "UTC",
    timeUnit: Double = 1.0,
    prometheusSchema: Boolean = false)

object TaskConfig {

  private lazy val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    import com.fasterxml.jackson.core.JsonParser.Feature
    m.configure(Feature.ALLOW_COMMENTS, true)
    m.configure(Feature.ALLOW_UNQUOTED_FIELD_NAMES, true)
    m.configure(Feature.ALLOW_SINGLE_QUOTES, true)
    m.configure(com.fasterxml.jackson.core.json.JsonReadFeature
      .ALLOW_TRAILING_COMMA.mappedFeature(), true)
    m
  }

  private def str(n: JsonNode, f: String, dflt: String = ""): String =
    if (n.has(f)) n.get(f).asText() else dflt
  private def opt(n: JsonNode, f: String): Option[String] =
    if (n.has(f) && !n.get(f).isNull) Some(n.get(f).asText()) else None

  /** Parse one task object (the `task` section of a sinker config). */
  def fromJson(json: String): TaskConfig = {
    val n = mapper.readTree(json)
    val dims =
      if (n.has("dims")) {
        val it = n.get("dims").elements()
        val buf = scala.collection.mutable.ArrayBuffer.empty[Dim]
        while (it.hasNext) {
          val d = it.next()
          buf += Dim(
            name = str(d, "name"),
            ti = ChType.whichType(str(d, "type")),
            sourceName = opt(d, "sourcename"))
        }
        buf.toSeq
      } else Nil
    val fields =
      if (n.has("fields")) {
        val f  = n.get("fields")
        val it = f.fieldNames()
        val buf = scala.collection.mutable.Map.empty[String, String]
        while (it.hasNext) {
          val k = it.next()
          buf(k) = mapper.writeValueAsString(f.get(k)) // raw JSON value
        }
        buf.toMap
      } else Map.empty[String, String]
    TaskConfig(
      name = str(n, "name"),
      topic = str(n, "topic"),
      consumerGroup = str(n, "consumerGroup", str(n, "name")),
      earliest = !n.has("earliest") || n.get("earliest").asBoolean(true),
      parser = str(n, "parser", "fastjson"),
      csvFormat = if (n.has("csvFormat")) {
        val it = n.get("csvFormat").elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next().asText()).toSeq
      } else Nil,
      delimiter = str(n, "delimiter", ","),
      fields = fields,
      tableName = str(n, "tableName"),
      dims = dims,
      excludeColumns = if (n.has("excludeColumns")) {
        val it = n.get("excludeColumns").elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next().asText()).toSeq
      } else Nil,
      dynamicSchema = n.has("dynamicSchema") && n.get("dynamicSchema").asBoolean(),
      whiteList = opt(n, "whiteList"),
      blackList = opt(n, "blackList"),
      shardingKey = str(n, "shardingKey"),
      shardingStripe = if (n.has("shardingStripe")) n.get("shardingStripe").asLong() else 0L,
      bufferSize = if (n.has("bufferSize")) n.get("bufferSize").asInt() else 262144,
      flushInterval = if (n.has("flushInterval")) n.get("flushInterval").asInt() else 10,
      timeZone = str(n, "timeZone", "UTC"),
      timeUnit = if (n.has("timeUnit")) n.get("timeUnit").asDouble() else 1.0,
      prometheusSchema =
        n.has("prometheusSchema") && n.get("prometheusSchema").asBoolean())
  }
}
