package graft.ingest

import graft.core.GraftTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium CDC envelope ingestion (SURVEY.md §2.1 S6; reference
  * connector configs mysql-debezium/register-mysql-avro.json:4-22,
  * postgres/mongo variants).
  *
  * The wire format is the public Debezium JSON envelope:
  * `{"before": {...}|null, "after": {...}|null, "op": "c|u|d|r",
  *   "ts_ms": ...}` keyed by the table's PK. Application semantics:
  * c/u/r upsert `after`; d deletes `before`'s key. One batch applies
  * as (at most) one upsert commit in which deletes ride as tombstones
  * and the per-key latest event wins — the connector's at-least-once
  * delivery composes with keyed latest-wins idempotence.
  */
object Debezium {

  /** Envelope schema for a given row schema. */
  def envelopeSchema(row: StructType): StructType = StructType(Seq(
    StructField("before", row),
    StructField("after", row),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))

  /** Parse a DataFrame of raw JSON envelope strings (e.g. a Kafka
    * `value` column) into typed change rows. */
  def parse(raw: DataFrame, jsonCol: String, row: StructType): DataFrame =
    raw.select(from_json(col(jsonCol), envelopeSchema(row)).as("e"))
      .select(col("e.before").as("before"), col("e.after").as("after"),
        col("e.op").as("op"), col("e.ts_ms").as("ts_ms"))

  // ---- MongoDB envelopes (reference: mongodb-debezium/
  // register-mongodb.json:4-11 — io.debezium.connector.mongodb) --------

  /** Debezium's MongoDB connector wraps documents differently from the
    * relational connectors: `after`/`before` arrive as MongoDB
    * extended-JSON *strings* (not structs), update events may carry
    * only an `updateDescription` (changed fields) instead of a full
    * `after` image, and delete events identify the document only
    * through the Kafka message KEY (`{"id": <extended-json of _id>}`).
    * This is the value-side envelope schema. */
  def mongoEnvelopeSchema: StructType = StructType(Seq(
    StructField("before", StringType),
    StructField("after", StringType),
    StructField("updateDescription", StructType(Seq(
      StructField("updatedFields", StringType),
      StructField("removedFields", ArrayType(StringType))))),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))

  /** Recursively replace MongoDB extended-JSON scalar wrappers with
    * plain JSON values so `from_json` against the caller's row schema
    * sees ordinary scalars: `{"$oid": s}`→s, `{"$numberLong": "n"}`/
    * `{"$numberInt": "n"}`→n, `{"$numberDouble"|"$numberDecimal":
    * "x"}`→x, `{"$date": n | {"$numberLong": "n"}}`→n. Unknown
    * `$`-wrappers and everything else pass through untouched. */
  private def unwrapExtendedJson(
      n: com.fasterxml.jackson.databind.JsonNode,
      m: com.fasterxml.jackson.databind.ObjectMapper): com.fasterxml.jackson.databind.JsonNode = {
    import com.fasterxml.jackson.databind.node._
    n match {
      case o: ObjectNode if o.size() == 1 =>
        val name = o.fieldNames().next()
        name match {
          case "$oid" | "$symbol" => o.get(name)
          case "$numberLong" | "$numberInt" =>
            LongNode.valueOf(o.get(name).asText.toLong)
          case "$numberDouble" | "$numberDecimal" =>
            DoubleNode.valueOf(java.lang.Double.parseDouble(o.get(name).asText))
          case "$date" => unwrapExtendedJson(o.get(name), m)
          case _ => unwrapObject(o, m)
        }
      case o: ObjectNode => unwrapObject(o, m)
      case a: ArrayNode =>
        val out = m.createArrayNode()
        a.forEach(e => { out.add(unwrapExtendedJson(e, m)); () })
        out
      case other => other
    }
  }

  private def unwrapObject(
      o: com.fasterxml.jackson.databind.node.ObjectNode,
      m: com.fasterxml.jackson.databind.ObjectMapper): com.fasterxml.jackson.databind.JsonNode = {
    val out = m.createObjectNode()
    o.fields().forEachRemaining { e =>
      out.set[com.fasterxml.jackson.databind.JsonNode](
        e.getKey, unwrapExtendedJson(e.getValue, m)); ()
    }
    out
  }

  /** Mongo `updateDescription.updatedFields` addresses NESTED updates
    * by dotted path — `$set {"address.city": x}` arrives as the flat
    * key `"address.city"`, which would not match any field of the
    * caller's row schema and be silently dropped by `from_json`.
    * Expand dotted keys into nested objects ({"address":{"city":x}})
    * so the typed partial image patches the struct column; sibling
    * dotted keys under one root merge into one subtree. Only TOP-level
    * keys are expanded — a dot inside a nested document's own key is a
    * literal Mongo field name and passes through untouched. */
  private def nestDottedPaths(
      n: com.fasterxml.jackson.databind.JsonNode,
      m: com.fasterxml.jackson.databind.ObjectMapper): com.fasterxml.jackson.databind.JsonNode = {
    import com.fasterxml.jackson.databind.node.ObjectNode
    n match {
      case o: ObjectNode =>
        val out = m.createObjectNode()
        o.fields().forEachRemaining { e =>
          val parts = e.getKey.split("\\.")
          var cur = out
          var i = 0
          while (i < parts.length - 1) {
            cur = cur.get(parts(i)) match {
              case child: ObjectNode => child
              case _ =>
                val c = m.createObjectNode()
                cur.set[com.fasterxml.jackson.databind.JsonNode](parts(i), c)
                c
            }
            i += 1
          }
          cur.set[com.fasterxml.jackson.databind.JsonNode](parts.last, e.getValue)
          ()
        }
        out
      case other => other
    }
  }

  /** Parse MongoDB Debezium envelopes. Output shape is [[parse]]'s
    * (before, after, op, ts_ms) plus a `partial` flag:
    *
    *   - `after`/`before` extended-JSON strings are normalized to
    *     plain JSON and typed against `row` (documents are
    *     schemaless on the wire; `row` is the projection contract,
    *     fields absent from a document read as null);
    *   - update events WITHOUT a full `after` image (capture modes
    *     other than `change_streams_update_full`) synthesize `after`
    *     from `updateDescription.updatedFields` and are marked
    *     `partial = true` — route them through [[applyMongo]], which
    *     applies them with partial-merge semantics;
    *   - delete (and key-only update) events recover `_id` from the
    *     message-key JSON in `keyJsonCol` (`{"id": ...}`, the id
    *     itself extended JSON), injected into the image as `_id`.
    *
    * Caveat (documented contract): a field `$unset` by a partial
    * update is indistinguishable from "not updated" in the
    * updatedFields image — both read as null — so unsets do not
    * propagate through the partial path; use full-document capture
    * mode when unsets matter. */
  def parseMongo(raw: DataFrame, jsonCol: String, row: StructType,
      keyJsonCol: Option[String] = None): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val cols = col(jsonCol).cast(StringType) +:
      keyJsonCol.map(c => col(c).cast(StringType)).toSeq
    val normalized = raw.select(cols: _*).mapPartitions { it =>
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      // with the connector default tombstones.on.delete=true every
      // delete is FOLLOWED by a null-value Kafka record (the compaction
      // tombstone); it carries no envelope and must not fail the batch
      it.filter(r => !r.isNullAt(0) && r.getString(0).trim.nonEmpty)
        .map { r =>
      val env = m.readTree(r.getString(0))
      // message-key _id (extended JSON nested in a string)
      val keyId: Option[com.fasterxml.jackson.databind.JsonNode] =
        (if (r.length > 1 && !r.isNullAt(1)) Option(m.readTree(r.getString(1)).get("id"))
         else None).map {
          case t if t.isTextual =>
            try unwrapExtendedJson(m.readTree(t.asText), m)
            catch { case _: Exception => t }
          case other => unwrapExtendedJson(other, m)
        }
      def image(field: String): com.fasterxml.jackson.databind.JsonNode = {
        val v = env.get(field)
        if (v == null || v.isNull) m.nullNode()
        else unwrapExtendedJson(m.readTree(v.asText), m)
      }
      def withKey(img: com.fasterxml.jackson.databind.JsonNode) = img match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode
            if !o.has("_id") && keyId.isDefined =>
          o.set[com.fasterxml.jackson.databind.JsonNode]("_id", keyId.get)
        case o: com.fasterxml.jackson.databind.node.ObjectNode => o
        case _ if keyId.isDefined =>
          val o = m.createObjectNode()
          o.set[com.fasterxml.jackson.databind.JsonNode]("_id", keyId.get)
        case other => other
      }
      val op = Option(env.get("op")).map(_.asText).orNull
      var after = image("after")
      var partial = false
      // fail loudly when an event's document identity is unrecoverable:
      // a delete with no before image (Mongo default — no pre-images)
      // and no message key would silently match nothing downstream
      if (op == "d" && image("before").isNull && keyId.isEmpty)
        throw new IllegalArgumentException(
          "Mongo delete carries no before image and no message key — " +
          "pass keyJsonCol (the Kafka key column holding {\"id\": ...}) " +
          s"so _id can be recovered. Envelope: ${r.getString(0).take(300)}")
      if (op == "u" && after.isNull) {
        val ud = env.get("updateDescription")
        val uf = if (ud == null || ud.isNull) null else ud.get("updatedFields")
        if (uf != null && !uf.isNull) {
          after = nestDottedPaths(unwrapExtendedJson(m.readTree(uf.asText), m), m)
          partial = true
        } else throw new IllegalArgumentException(
          "Mongo update event carries neither an `after` image nor " +
          "`updateDescription.updatedFields` — applying it would wipe the " +
          "stored document's fields to null. Legacy oplog capture mode " +
          "(`patch` envelopes) is not supported; use a change-streams " +
          s"capture mode. Offending envelope: ${r.getString(0).take(500)}")
      }
      val before = image("before")
      val out = m.createObjectNode()
      out.set[com.fasterxml.jackson.databind.JsonNode]("after",
        if (op == "d") m.nullNode() else withKey(after))
      out.set[com.fasterxml.jackson.databind.JsonNode]("before", withKey(before))
      out.put("op", op)
      out.put("ts_ms",
        Option(env.get("ts_ms")).filterNot(_.isNull).map(_.asLong).getOrElse(0L))
      out.put("partial", partial)
      m.writeValueAsString(out)
      }
    }.toDF("json")
    val schema = envelopeSchema(row)
      .add(StructField("partial", BooleanType))
    normalized.select(from_json(col("json"), schema).as("e"))
      .select(col("e.before").as("before"), col("e.after").as("after"),
        col("e.op").as("op"), col("e.ts_ms").as("ts_ms"),
        col("e.partial").as("partial"))
  }

  /** Apply [[parseMongo]] output: full-image events go through the
    * standard [[apply]] path; `partial` update events (change-stream
    * capture without full documents) apply with the table's
    * partial-merge payload — only the fields present in
    * `updatedFields` overwrite, everything else is preserved. */
  def applyMongo(table: GraftTable, changes: DataFrame): Seq[String] = {
    // persist: the per-row Jackson normalization upstream would
    // otherwise re-run for every downstream action (apply's emptiness
    // probe and upsert, the partial probe and fold) — the same reason
    // streamIntoRouted persists its micro-batch
    val cached = changes.persist()
    try {
      val full = cached.filter(!col("partial")).drop("partial")
      val part = cached.filter(col("partial"))
      var commits = apply(table, full)
      if (!part.isEmpty) {
        val cfg = table.config
        val rowCols = part.select(col("after.*")).columns.toSeq
        val imaged = part.select(col("after.*"), col("ts_ms"))
        val withOrd =
          if (rowCols.contains(cfg.orderingField))
            // the ordering column is a DOCUMENT field: a partial
            // update that didn't touch it has it null, and a
            // null-ordering partial silently LOSES the merge (the
            // stored row wins and the update is discarded). Filling
            // in ts_ms instead would overwrite the document's own
            // ordering domain (e.g. a version counter) with epoch
            // millis and corrupt future merges — so demand the field
            // in updatedFields, loudly.
            imaged.withColumn(cfg.orderingField,
              when(col(cfg.orderingField).isNotNull, col(cfg.orderingField))
                .otherwise(raise_error(lit(
                  s"Mongo partial update lacks ordering field " +
                  s"'${cfg.orderingField}' in updatedFields — it would " +
                  "silently lose the merge; include the field in the " +
                  "update or use full-document capture mode"))))
              .drop("ts_ms")
          else imaged.withColumn(cfg.orderingField, col("ts_ms")).drop("ts_ms")
        // the full-width frame is correct as-is: upsertPartial treats
        // null columns as UNSET partials (PartialUpdateAvroPayload
        // semantics), which is exactly what "field absent from
        // updatedFields" means
        commits = commits :+ table.upsertPartial(withOrd)
      }
      commits
    } finally { cached.unpersist(); () }
  }

  // ---- Avro envelopes (reference: register-mysql-avro.json:4-22 — the
  // CDC demos are Avro-first; JSON alone cannot ingest them) ----------

  /** Avro schema for the envelope: the row record referenced twice as a
    * nullable union, primitives mapped per field. The analog of the
    * connector's value.converter schema. */
  def avroEnvelopeSchema(row: StructType, recordName: String = "Row"): org.apache.avro.Schema = {
    import org.apache.avro.{Schema, SchemaBuilder}
    def avroField(dt: org.apache.spark.sql.types.DataType): Schema = dt match {
      case StringType => Schema.create(Schema.Type.STRING)
      case LongType => Schema.create(Schema.Type.LONG)
      case IntegerType => Schema.create(Schema.Type.INT)
      case DoubleType => Schema.create(Schema.Type.DOUBLE)
      case FloatType => Schema.create(Schema.Type.FLOAT)
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case other => throw new IllegalArgumentException(
        s"unsupported CDC avro field type $other")
    }
    val rowSchema = row.fields.foldLeft(SchemaBuilder.record(recordName).fields()) {
      (b, f) => b.name(f.name).`type`(Schema.createUnion(
        Schema.create(Schema.Type.NULL), avroField(f.dataType))).withDefault(null)
    }.endRecord()
    val env = Schema.createRecord("DebeziumEnvelope", null, "graft.cdc", false)
    env.setFields(java.util.Arrays.asList(
      new Schema.Field("before",
        Schema.createUnion(Schema.create(Schema.Type.NULL), rowSchema), null,
        Schema.Field.NULL_DEFAULT_VALUE),
      new Schema.Field("after",
        Schema.createUnion(Schema.create(Schema.Type.NULL), rowSchema), null,
        Schema.Field.NULL_DEFAULT_VALUE),
      new Schema.Field("op", Schema.create(Schema.Type.STRING), null),
      new Schema.Field("ts_ms", Schema.create(Schema.Type.LONG), null)))
    env
  }

  /** Parse Avro-encoded envelopes from a binary column. The writer
    * schema comes from a local `.avsc` JSON string — the
    * FilebasedSchemaProvider analog of the reference's Schema-Registry
    * setup (a registry client would supply the same JSON per schema
    * id). `confluentFramed` strips the registry wire prefix (magic
    * byte 0 + 4-byte schema id) the Avro converters prepend.
    *
    * Decode happens once, at the source boundary, in a mapPartitions
    * over the binary column (one DatumReader per partition); rows then
    * re-enter the typed plan via the same from_json path as the JSON
    * source, so everything downstream of the boundary stays
    * codegen'd. */
  def parseAvro(raw: DataFrame, binCol: String, avroSchemaJson: String,
      row: StructType, confluentFramed: Boolean = false): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val jsons = raw.select(col(binCol)).as[Array[Byte]].mapPartitions { it =>
      val schema = new org.apache.avro.Schema.Parser().parse(avroSchemaJson)
      val reader = new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord](schema)
      it.map { bytes =>
        // a topic DECLARED framed must only hold framed records — a
        // silent offset-0 fallback could "successfully" decode garbage
        // into wrong rows (the sibling stripConfluentFrame throws too)
        // length < 5 (not <= 5): a 5-byte frame is a valid header with
        // an EMPTY Avro payload (a record whose fields all encode to
        // zero bytes — e.g. every field null in a null-first union)
        if (confluentFramed && (bytes.length < 5 || bytes(0) != 0))
          throw new IllegalArgumentException(
            s"record is not Confluent-framed (len=${bytes.length}, " +
            s"magic=${if (bytes.isEmpty) "∅" else bytes(0).toString}) on a " +
            "confluentFramed=true source")
        val (buf, off, len) =
          if (confluentFramed) (bytes, 5, bytes.length - 5)
          else (bytes, 0, bytes.length)
        val dec = org.apache.avro.io.DecoderFactory.get()
          .binaryDecoder(buf, off, len, null)
        reader.read(null, dec).toString // GenericRecord.toString is JSON
      }
    }.toDF("json")
    parse(jsons, "json", row)
  }

  /** Schema-from-file variant (`.avsc` on local/shared storage). */
  def parseAvroFile(raw: DataFrame, binCol: String, avscPath: String,
      row: StructType, confluentFramed: Boolean = false): DataFrame =
    parseAvro(raw, binCol,
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(avscPath)), "UTF-8"),
      row, confluentFramed)

  /** Registry-resolved Avro variant: each record's Confluent frame
    * carries the WRITER's schema id (register-mysql-avro.json:9-13
    * points the converters at the registry), which the [[SchemaProvider]]
    * resolves to the `.avsc` that record was written with — so one
    * stream can interleave schema versions (the registry's whole point:
    * the topic outlives any single schema). Decoded records re-enter
    * the plan through `from_json` against the caller's TARGET `row`
    * schema, projecting by field name: columns absent from an old
    * writer schema read as null, exactly Avro reader-schema semantics.
    * Readers are cached per (partition, schema id). */
  def parseAvroRegistry(raw: DataFrame, binCol: String,
      provider: SchemaProvider, row: StructType): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val jsons = raw.select(col(binCol)).as[Array[Byte]].mapPartitions { it =>
      val readers = scala.collection.mutable.Map.empty[Int,
        org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]]
      it.map { bytes =>
        val id = SchemaProvider.confluentSchemaId(bytes)
        val reader = readers.getOrElseUpdate(id,
          new org.apache.avro.generic.GenericDatumReader[
              org.apache.avro.generic.GenericRecord](
            new org.apache.avro.Schema.Parser().parse(provider.schemaById(id))))
        val dec = org.apache.avro.io.DecoderFactory.get()
          .binaryDecoder(bytes, 5, bytes.length - 5, null)
        reader.read(null, dec).toString
      }
    }.toDF("json")
    parse(jsons, "json", row)
  }

  // ---- Protobuf envelopes (reference: register-mysql-protobuf.json:
  // 19-22 — the ProtobufConverter variant of the same connector) ------

  /** Parse protobuf-encoded envelopes from a binary column under the
    * [[ProtobufEnvelope]] field-number contract (envelope
    * before=1/after=2/op=3/ts_ms=4, row fields 1..n in schema order).
    * Same boundary shape as [[parseAvro]]: bytes decode once per
    * partition to envelope JSON, rows re-enter the typed plan through
    * `from_json`, everything downstream stays codegen'd.
    * `confluentFramed` strips the registry wire prefix (magic byte +
    * schema id + message-indexes path). Absent submessages are null;
    * an absent SCALAR decodes as its proto3 zero value (0 / 0.0 /
    * false / "") — canonical serializers (protoc, Confluent's
    * ProtobufConverter for non-optional fields) elide zero-valued
    * scalars from the wire, so treating absence as null would silently
    * corrupt legitimate zeros. Consequence: this contract cannot
    * distinguish SQL NULL from zero in a scalar column; sources that
    * need nullable scalars must use explicit-presence (`optional`)
    * fields, which always serialize when set. */
  def parseProtobuf(raw: DataFrame, binCol: String, row: StructType,
      confluentFramed: Boolean = false): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val names = row.fieldNames
    val jsons = raw.select(col(binCol)).as[Array[Byte]].mapPartitions { it =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      it.map { bytes =>
        val (off, len) =
          if (confluentFramed) ProtobufEnvelope.stripConfluentFrame(bytes)
          else (0, bytes.length)
        val d = ProtobufEnvelope.decode(bytes, off, len, row)
        def img(vals: Array[Any]): java.util.LinkedHashMap[String, Any] =
          if (vals == null) null
          else {
            val m = new java.util.LinkedHashMap[String, Any]()
            var i = 0
            while (i < names.length) { m.put(names(i), vals(i)); i += 1 }
            m
          }
        val env = new java.util.LinkedHashMap[String, Any]()
        env.put("before", img(d.before))
        env.put("after", img(d.after))
        env.put("op", d.op)
        env.put("ts_ms", d.tsMs)
        mapper.writeValueAsString(env)
      }
    }.toDF("json")
    parse(jsons, "json", row)
  }

  /** Registry-resolved protobuf variant: the Confluent frame's schema
    * id (register-mysql-protobuf.json:19-22) resolves through the
    * [[SchemaProvider]] to the WRITER's proto3 text, whose scalar
    * field declarations give the wire decoder its positional contract
    * ([[ProtoSchemaText.rowSchema]]) — so interleaved schema versions
    * decode each record with the schema it was written under. Decoded
    * rows project by name into the caller's TARGET `row` schema via
    * `from_json` (fields an old writer lacks read as null). Writer
    * schemas are cached per (partition, schema id). */
  def parseProtobufRegistry(raw: DataFrame, binCol: String,
      provider: SchemaProvider, row: StructType): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val jsons = raw.select(col(binCol)).as[Array[Byte]].mapPartitions { it =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val writers = scala.collection.mutable.Map.empty[Int, StructType]
      it.map { bytes =>
        val id = SchemaProvider.confluentSchemaId(bytes)
        val writerRow = writers.getOrElseUpdate(id,
          ProtoSchemaText.rowSchema(provider.schemaById(id)))
        val (off, len) = ProtobufEnvelope.stripConfluentFrame(bytes)
        val d = ProtobufEnvelope.decode(bytes, off, len, writerRow)
        val names = writerRow.fieldNames
        def img(vals: Array[Any]): java.util.LinkedHashMap[String, Any] =
          if (vals == null) null
          else {
            val m = new java.util.LinkedHashMap[String, Any]()
            var i = 0
            while (i < names.length) { m.put(names(i), vals(i)); i += 1 }
            m
          }
        val env = new java.util.LinkedHashMap[String, Any]()
        env.put("before", img(d.before))
        env.put("after", img(d.after))
        env.put("op", d.op)
        env.put("ts_ms", d.tsMs)
        mapper.writeValueAsString(env)
      }
    }.toDF("json")
    parse(jsons, "json", row)
  }

  /** Apply parsed change events to a graft table as ONE upsert commit;
    * an empty batch makes none.
    *
    * For each key, the batch's latest event (by ts_ms) decides: c/u/r
    * upsert the `after` image, d writes a tombstone — the `before`
    * image with the table's soft-delete flag set. Tombstones ride the
    * upsert's latest-wins merge like any other version, so one batch is
    * atomic and the merge decides every delete: a delete older than the
    * stored row (an at-least-once replay) loses the ordering compare
    * and is dropped; at equal ordering the tombstone's newer commit time
    * wins. A key-only before image carries no ordering (Postgres
    * default REPLICA IDENTITY, Mongo deletes) and cannot be proven
    * stale: a COW write ranks the writing commit's null-ordering
    * tombstone above every stored version of its key. (A MOR read ranks
    * a null ordering lowest, so there such a delete does not apply.) If
    * the row schema lacks the table's ordering column, ts_ms is stamped
    * into it so cross-batch binlog order keeps winning. */
  def apply(table: GraftTable, changes: DataFrame): Seq[String] = {
    import org.apache.spark.sql.expressions.Window
    val cfg = table.config
    val rowCols = changes.select(col("after.*")).columns.toSeq
    require(rowCols.contains(cfg.keyField),
      s"CDC row schema lacks key ${cfg.keyField}")

    // envelope columns under reserved names BEFORE the r.* expansion —
    // a row schema carrying its own `ts_ms`/`op` column would otherwise
    // make the window/select references ambiguous. A record without an
    // op (the null-value Kafka record that follows a delete under the
    // connector default tombstones.on.delete=true) is no event.
    val imaged = changes.select(
        coalesce(col("after"), col("before")).as("r"),
        col("op").as("__ev_op"), col("ts_ms").as("__ev_ts"))
      .filter(col("__ev_op").isNotNull)
      .select(col("r.*") +: Seq(col("__ev_op"), col("__ev_ts")): _*)
    val withOrd =
      if (rowCols.contains(cfg.orderingField)) imaged
      else imaged.withColumn(cfg.orderingField, col("__ev_ts"))

    // one surviving event per key: the latest in the batch. Tie at the
    // same ts_ms: the DELETE wins — an explicit priority, because the
    // previous `col("op").desc` string ordering ranked 'u' ABOVE 'd'
    // and resurrected rows deleted in the same binlog millisecond
    val keyCols = (cfg.partitionField.toSeq.filter(rowCols.contains) :+
      cfg.keyField).map(col)
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col("__ev_ts").desc,
        when(col("__ev_op") === "d", 1).otherwise(0).desc)
    val dataCols = withOrd.columns
      .filterNot(Set("__ev_op", "__ev_ts", cfg.softDeleteField))
    val latest = withOrd
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select((dataCols.map(col) :+
        (col("__ev_op") === "d").as(cfg.softDeleteField)).toIndexedSeq: _*)
    if (imaged.isEmpty) Nil else Seq(table.upsert(latest))
  }
}
