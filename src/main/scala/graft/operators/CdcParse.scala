package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CDC envelope classification + typed row assembly (SURVEY.md §2 O2/O3).
  *
  * Reference semantics (CdcMsgParser.java:45-83):
  *   - `update` present and a JSON object  -> update op
  *         (empty object => keys-only row: non-key columns null,
  *          CdcMsgParser.java:62)
  *   - `update` present but NOT an object, and `newImage` present
  *         -> use newImage as the row payload (CdcMsgParser.java:66-70)
  *   - `erase` present -> delete op (CdcMsgParser.java:76-79)
  *   - anything else (incl. newImage alone) -> dropped (:81-82)
  *   - key columns are POSITIONAL in PK order from the `key` array
  *         (YqlQuery.java:46-53); non-key columns by name from payload.
  *
  * Everything here is pure `Column` expressions (get_json_object + casts
  * + when/otherwise): whole-stage-codegen'd, no UDFs, trivially
  * distributed — the 100 TB path is a single narrow projection stage.
  */
object CdcParse {

  /** Schema of the CDC-maintained table: typed columns + PK order. */
  case class CdcSchema(columns: StructType, pk: Seq[String]) {
    require(pk.forall(columns.fieldNames.contains),
      s"pk ${pk.mkString(",")} not subset of columns")
    def nonKey: Seq[StructField] =
      columns.fields.toSeq.filterNot(f => pk.contains(f.name))
  }

  val OpUpdate = "update"
  val OpKeysOnly = "update_keys_only"
  val OpNewImage = "update_newimage"
  val OpErase = "erase"
  val OpDrop = "drop"

  /** JSON scalar -> Spark value coercion per SURVEY.md §1.2
    * (YqlQuery.java:89-166). Bytes arrive base64-encoded
    * (YqlQuery.java:137-138); Interval arrives as SECONDS — not µs —
    * (YqlQuery.java:153-154); full-range Uint64 is supported by
    * declaring the column DecimalType(20,0) (SURVEY §7.4).
    *
    * Casts are `try_cast`: a value that does not fit the declared type
    * (nested object in a numeric column, garbage timestamp) becomes
    * NULL instead of an ANSI cast error — under ANSI Spark a plain
    * cast would abort the micro-batch and the at-least-once loop would
    * retry it forever. (Known divergence: the reference's Jackson
    * `asLong()`/`asText()` defaults coerce a mismatched node to
    * 0/""/false, YqlQuery.java:110-134 — a silent-zero we deliberately
    * do not reproduce.)
    */
  def coerce(raw: Column, dt: DataType): Column = dt match {
    case BinaryType => unbase64(raw)
    case TimestampType => raw.try_cast(TimestampType)
    case ivl: DayTimeIntervalType =>
      raw.try_cast(LongType).cast("interval second")
        .cast(ivl.catalogString)
    case other => raw.try_cast(other)
  }

  /** Classify the envelope column into an op label. */
  def opOf(env: Column): Column = {
    val upd = get_json_object(env, "$.update")
    val img = get_json_object(env, "$.newImage")
    val ers = get_json_object(env, "$.erase")
    val key = get_json_object(env, "$.key")
    val updIsObj = upd.startsWith("{")
    // newImage fallback requires a NON-EMPTY JSON object
    // (CdcMsgParser.java:66-67: isObject() && !isEmpty()) — an array,
    // scalar or {} drops the message
    val imgIsNonEmptyObj = img.startsWith("{") && img =!= "{}"
    when(key.isNull, OpDrop)
      .when(upd.isNotNull && updIsObj && upd === "{}", OpKeysOnly)
      .when(upd.isNotNull && updIsObj, OpUpdate)
      .when(upd.isNotNull && imgIsNonEmptyObj, OpNewImage)
      .when(ers.isNotNull, OpErase)
      .otherwise(OpDrop)
  }

  /** from_json target for the fast path: payload objects as
    * string-string maps (non-string scalars and nested JSON surface as
    * their raw text, matching get_json_object's output).
    */
  private val fastSchema = StructType(Seq(
    StructField("key", ArrayType(StringType)),
    StructField("update", MapType(StringType, StringType)),
    StructField("newImage", MapType(StringType, StringType)),
    StructField("erase", MapType(StringType, StringType))))

  /** Parse a DataFrame carrying a raw-JSON envelope column into typed
    * rows: adds `op` plus one column per table column (PK columns from
    * the positional key array, others from the routed payload; null for
    * keys-only and erase ops). Pass-through columns are kept.
    *
    * Performance: the raw `$.update` / `$.newImage` / `$.erase` / key
    * extractions each fully re-parse the JSON, and Spark's
    * CollapseProject would inline them into EVERY output column
    * (~25 parses/row). They are therefore computed once into a struct
    * emitted through `explode(array(...))` — a Generate node is a
    * projection-collapse barrier, so downstream columns are cheap
    * GetStructField reads. Remaining parses per row: 4 envelope + one
    * small payload parse per non-key column.
    */
  def parseEnvelope(df: DataFrame, envCol: String,
      schema: CdcSchema): DataFrame = {
    val env = col(envCol)
    // ONE parse/row on the fast path for update-object envelopes (the
    // dominant kind): the raw `$.update` extraction — needed only to
    // distinguish a non-object update (newImage fallback) from an
    // absent one — is computed CONDITIONALLY, when the parsed update
    // map is null. The from_json result is materialized behind its own
    // Generate barrier FIRST (expressions inside a generator get no
    // subexpression elimination, so referencing from_json twice in one
    // struct would parse twice), then the conditional extraction reads
    // the already-parsed struct.
    val s1 = col("__s1")
    val raw = struct(
      s1.getField("fast").as("fast"),
      when(s1.getField("fast").getField("update").isNull,
        get_json_object(s1.getField("env"), "$.update")).as("updRaw"),
      s1.getField("env").as("env"))
    val parsed = transform(array(raw), r => {
      val updRaw = r.getField("updRaw")

      def branch(key: Column, updPresent: Column, updIsObj: Column,
          upd: Column, img: Column, ers: Column,
          isEmptyUpd: Column, imgNonEmptyObj: Column,
          field: (Column, StructField) => Column,
          keyAt: Int => Column) = {
        val op = when(key.isNull, OpDrop)
          .when(updPresent && updIsObj && isEmptyUpd, OpKeysOnly)
          .when(updPresent && updIsObj, OpUpdate)
          // newImage fallback only for a NON-EMPTY object
          // (CdcMsgParser.java:66-67: isObject() && !isEmpty())
          .when(updPresent && imgNonEmptyObj, OpNewImage)
          .when(ers.isNotNull, OpErase)
          .otherwise(OpDrop)
        val payload = when(op === OpNewImage, img).otherwise(upd)
        val keyCols = schema.pk.zipWithIndex.map { case (name, i) =>
          val f = schema.columns.fields(schema.columns.fieldIndex(name))
          coerce(keyAt(i), f.dataType).as(name)
        }
        val dataCols = schema.nonKey.map { f =>
          when(op.isin(OpUpdate, OpNewImage),
            coerce(field(payload, f), f.dataType))
            .otherwise(lit(null).cast(f.dataType)).as(f.name)
        }
        struct((op.as("op") +: (keyCols ++ dataCols)): _*)
      }

      val fast = r.getField("fast")
      val fastBranch = {
        val key = fast.getField("key")
        val upd = fast.getField("update")
        val img = fast.getField("newImage")
        // a parsed (object) update means present; otherwise presence
        // comes from the conditional raw extraction, and "present but
        // not parsed as a map" is exactly the non-object case
        branch(key,
          updPresent = upd.isNotNull || updRaw.isNotNull,
          updIsObj = upd.isNotNull,
          upd = upd, img = img,
          ers = fast.getField("erase"),
          isEmptyUpd = size(upd) === 0,
          imgNonEmptyObj = img.isNotNull && size(img) > 0,
          field = (payload, f) => element_at(payload, f.name),
          keyAt = i => element_at(key, i + 1))
      }
      val slowBranch = {
        val envR = r.getField("env")
        val img = get_json_object(envR, "$.newImage")
        branch(get_json_object(envR, "$.key"),
          updPresent = updRaw.isNotNull,
          updIsObj = updRaw.startsWith("{"),
          upd = updRaw, img = img,
          ers = get_json_object(envR, "$.erase"),
          isEmptyUpd = updRaw === "{}",
          imgNonEmptyObj = img.startsWith("{") && img =!= "{}",
          field = (payload, f) =>
            get_json_object(payload, s"$$.${f.name}"),
          keyAt = i => get_json_object(envR, s"$$.key[$i]"))
      }
      when(fast.isNotNull, fastBranch).otherwise(slowBranch)
    })
    val parsedCols = ("op" +: schema.columns.fieldNames.toSeq)
    df.select(col("*"), explode(array(struct(
        from_json(env, fastSchema).as("fast"), env.as("env")))).as("__s1"))
      .select(col("*"), explode(parsed).as("__parsed"))
      .select((df.columns.map(col) ++
        parsedCols.map(n => col(s"__parsed.$n").as(n))).toIndexedSeq: _*)
  }
}
