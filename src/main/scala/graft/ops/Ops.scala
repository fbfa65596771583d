package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{fnv64, json_upper, uuid_v7}

/** The per-record transform plane (reference §2.3), as composable
  * `DataFrame => DataFrame` ops chained with `Dataset.transform` — the
  * reference's linear Operation chain (`internal/pipeline/pipeline.go:
  * 19-34,221-240`) becomes the Catalyst plan itself.
  */
object Ops {
  type Op = DataFrame => DataFrame

  /** T4: recursively uppercase all string values of the JSON payload
    * (intended semantics of pipeline.go:282-340 — the reference applies
    * it to `[]byte` making it a no-op; we implement the documented
    * intent, on both the snapshot and the live channel). */
  def uppercasePayload(payloadCol: String = "payload"): Op =
    df => df.withColumn(payloadCol, json_upper(col(payloadCol)))

  /** T6: parse `payload.eventTime` (RFC3339) into an event_time column;
    * unparseable → null (job.go:76-80 swallows the error). */
  def extractEventTime(payloadCol: String = "payload",
      out: String = "event_time"): Op =
    df => df.withColumn(out,
      to_timestamp(get_json_object(col(payloadCol), "$.eventTime"),
        "yyyy-MM-dd'T'HH:mm:ss'Z'"))

  /** P1+P2: hash fan-out. Parity mode uses the reference's FNV-1a 64 of
    * the payload (`partitioner/hash.go:19-31` hashes the formatted job
    * data); default mode lets Spark's Murmur3 partition directly —
    * preferred at scale (no extra column, codegen'd). */
  def repartitionByPayload(n: Int, payloadCol: String = "payload",
      fnvParity: Boolean = false): Op =
    df =>
      if (fnvParity)
        df.withColumn("__part", pmod(fnv64(col(payloadCol)), lit(n)))
          .repartition(n, col("__part")).drop("__part")
      else df.repartition(n, col(payloadCol))

  /** P4: round-robin fan-out (`partitioner/partition.go:42-50` labels
    * its hash loop "simple round-robin"; a true record-order
    * round-robin is an unfinished TODO at partition.go:88). Spark's
    * RoundRobinPartitioning — `repartition(n)` with no keys — is the
    * working equivalent: even spread regardless of key skew. `n`
    * defaults to the session's shuffle parallelism. */
  def roundRobin(n: Option[Int] = None): Op =
    df => df.repartition(
      n.getOrElse(df.sparkSession.sessionState.conf.numShufflePartitions))

  /** Wrap raw records into the Job envelope (models.New,
    * job.go:48-91): time-ordered UUIDv7-style id (job.go:15 — sorting
    * by id reproduces arrival order, which a random v4 id loses),
    * processing-time timestamps, priority 0. */
  def toJobEnvelope(payloadCol: String = "payload"): Op =
    df => df.select(
      uuid_v7().as("id"),
      col(payloadCol).cast("string").as("payload"),
      current_timestamp().as("node_created_at"),
      current_timestamp().as("node_updated_at"),
      to_timestamp(get_json_object(col(payloadCol), "$.eventTime"),
        "yyyy-MM-dd'T'HH:mm:ss'Z'").as("event_time"),
      lit(0).as("priority"))

  /** S1 materialization: latest change per key from a CDC feed. */
  def cdcLatestPerKey(keyCol: String = "document_key",
      orderCol: String = "cluster_time"): Op = df => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Registry for config-driven transform chains
    * (`"transforms": "uppercase,extract_event_time"`). */
  // ---- training-data cleaning ops over the Job payload column, so
  // config-driven pipelines (the reference's own transform-stage
  // mechanism) can run corpus preparation end-to-end by name. All
  // per-row + codegen'd: no shuffle, no state, retry-stable.

  /** Collapse digit runs in the payload to '#' (the PII-redaction
    * primitive; mirrors the `pii_mask` catalog kernel). */
  def piiMask(payloadCol: String = "payload"): Op =
    df => df.withColumn(payloadCol,
      regexp_replace(col(payloadCol), "[0-9]+", "#"))

  /** Annotate whitespace token count (the `token_count` kernel). */
  def tokenCount(payloadCol: String = "payload",
      out: String = "n_tokens"): Op =
    df => df.withColumn(out, size(split(col(payloadCol), " ")))

  /** Drop records whose payload is shorter than `minChars` — the
    * cheapest quality cut, applied before anything expensive. */
  def qualityFilter(minChars: Int = 16, payloadCol: String = "payload"): Op =
    df => df.filter(length(col(payloadCol)) >= minChars)

  /** Deterministic hash sampling at `keep`/16384 (the `sample_weighted`
    * kernel: FNV low-14-bits vs a threshold — power-of-two modulus,
    * rand()-free, so retries and re-runs keep identical records). */
  def hashSample(keep: Int = 8192, payloadCol: String = "payload",
      salt: String = "mix:"): Op = {
    require(keep >= 0 && keep <= 16384, "keep is out of 16384")
    df => df.filter(
      pmod(fnv64(concat(lit(salt), col(payloadCol))), lit(16384)) < keep)
  }

  val registry: Map[String, Op] = Map(
    "identity" -> identity[DataFrame] _,
    "uppercase" -> uppercasePayload(),
    "extract_event_time" -> extractEventTime(),
    "to_job" -> toJobEnvelope(),
    "cdc_latest" -> cdcLatestPerKey(),
    "round_robin" -> roundRobin(),
    "pii_mask" -> piiMask(),
    "token_count" -> tokenCount(),
    "quality_filter" -> qualityFilter(),
    "hash_sample" -> hashSample())

  def chain(names: Seq[String]): Op = {
    val ops = names.map(n => registry.getOrElse(n.trim,
      throw new IllegalArgumentException(s"unknown transform '$n'")))
    df => ops.foldLeft(df)((d, op) => op(d))
  }
}
