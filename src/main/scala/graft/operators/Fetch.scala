package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Blob fetch (SURVEY.md §2 O4): the reference pulls each task's document
  * over HTTP before converting (`FileUtils.copyURLToFile(new URL(pdfURL))`,
  * Workers.java:127-129). The engine expresses that as a scalar UDF with an
  * INJECTABLE transport — the sandbox has no network, so the default
  * transport is a deterministic synthetic store, and tests inject flaky /
  * failing transports; swapping in a real HTTP client is a one-line
  * `Fetch.use(...)`.
  *
  * Error taxonomy mirrors Workers.java exactly:
  *  - record-level failure (bad ref / 404 analog) → the in-band
  *    `Error: PDF file not found - <class>` row (Workers.java:205-211) —
  *    the row survives, the job continues;
  *  - transient/infra failure → retried inside the operator (bounded),
  *    then thrown — which in Spark surfaces as a task failure and
  *    reschedule, the analog of the reference returning null so the SQS
  *    message redelivers to another worker (Workers.java:194-204).
  *
  * The UDF is registered `asNondeterministic()`: a fetch observes external
  * state, so Catalyst must not collapse, reorder across filters, or
  * re-execute it assuming purity.
  */
object Fetch {

  /** Pluggable byte source for a `doc://` / `file://` / `http://` ref. */
  trait Transport extends Serializable {
    /** @throws NotFound        record-level miss (caught, error-as-value)
      * @throws TransientError  infra hiccup (retried, then task failure) */
    def fetch(ref: String): Array[Byte]
  }
  final class NotFound(msg: String) extends java.io.IOException(msg)
  final class TransientError(msg: String) extends java.io.IOException(msg)

  /** Default: deterministic synthetic store — bytes are a pure function of
    * the ref, refs under `doc://src19/` don't exist (the 404 corpus). */
  object SyntheticStore extends Transport {
    override def fetch(ref: String): Array[Byte] = {
      if (ref.startsWith("doc://src19/")) throw new NotFound(ref)
      ("blob:" + ref).getBytes("UTF-8")
    }
  }

  /** Production transport: `java.net.http.HttpClient` (the JDK client —
    * connection pooling, HTTP/2, redirect following). The status mapping
    * follows the operator's taxonomy: 404/410 and other non-retryable 4xx
    * are record-level [[NotFound]] (retrying cannot help — the in-band
    * error row); 408/429/5xx and connect/IO failures are [[TransientError]]
    * (bounded in-operator retry, then task reschedule). The client itself
    * is `@transient lazy` — each executor builds its own on first fetch and
    * reuses it for the partition; only the timeout config serializes with
    * the UDF closure. The sandbox has no egress, so the catalog default
    * stays [[SyntheticStore]]; FetchSpec drives this class against an
    * in-process HTTP server. */
  final class HttpTransport(connectTimeoutMs: Long = 5000L,
      requestTimeoutMs: Long = 30000L) extends Transport {
    @transient private lazy val client: java.net.http.HttpClient =
      java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofMillis(connectTimeoutMs))
        .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
        .build()
    override def fetch(ref: String): Array[Byte] = {
      val req =
        try java.net.http.HttpRequest.newBuilder(java.net.URI.create(ref))
          .timeout(java.time.Duration.ofMillis(requestTimeoutMs)).GET().build()
        catch { // unparseable ref = bad record, not infra
          case e: IllegalArgumentException =>
            throw new NotFound(s"bad ref $ref: ${e.getMessage}")
        }
      val resp =
        try client.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
        catch {
          case e: java.io.IOException =>
            throw new TransientError(s"$ref: ${e.getMessage}")
          case _: InterruptedException =>
            Thread.currentThread().interrupt()
            throw new TransientError(s"$ref: interrupted")
        }
      resp.statusCode() match {
        case 200 | 206 => resp.body()
        case 404 | 410 => throw new NotFound(s"$ref -> ${resp.statusCode()}")
        case 408 | 429 => throw new TransientError(s"$ref -> ${resp.statusCode()}")
        case s if s >= 500 => throw new TransientError(s"$ref -> $s")
        case s => throw new NotFound(s"$ref -> $s")
      }
    }
  }

  @volatile private var transport: Transport = SyntheticStore
  def use(t: Transport): Unit = { transport = t }
  def current: Transport = transport

  private val MaxAttempts = 3

  /** Fetch with bounded infra-retry; record errors become in-band values.
    * Returns (payload, error) — exactly one side is null. */
  def fetchWithRetry(t: Transport, ref: String): (Array[Byte], String) = {
    var attempt = 1
    while (true) {
      try return (t.fetch(ref), null)
      catch {
        case e: NotFound =>
          return (null, "Error: PDF file not found - " + e.getClass.getName)
        case e: TransientError =>
          if (attempt >= MaxAttempts) throw e // task failure -> reschedule
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One fetch per row: `fetch_blob` returns a (payload, error) struct —
    * exactly one field non-null — via the plain scalar-UDF surface,
    * nondeterministic by construction. It re-registers on every call,
    * unlike the engine's other functions: the UDF captures [[transport]]
    * at registration, so a swapped transport needs a fresh one. */
  def registerUdfs(s: SparkSession): Unit = {
    val t = transport
    s.udf.register("fetch_blob",
      udf((ref: String) => fetchWithRetry(t, ref)).asNondeterministic())
  }

  /** O4 catalog query: build the parity `doc://` refs, fetch each blob,
    * surface content hash + size or the in-band error. src19 plays the
    * missing corpus (404 path); everything else fetches deterministically
    * so the DuckDB oracle predicts the md5 from the ref string alone. */
  def fetchBlobs(s: SparkSession, d: String): DataFrame = {
    registerUdfs(s)
    documents(s, d)
      .select(col("doc_id"),
        concat(lit("doc://"), col("source"), lit("/"), col("doc_id")).as("input_ref"))
      .withColumn("r", call_udf("fetch_blob", col("input_ref")))
      .select(col("doc_id"), col("input_ref"),
        when(col("r._2").isNotNull, col("r._2"))
          .otherwise(concat(lit("fetched:"), md5(col("r._1")),
            lit(":"), length(col("r._1")))).as("output"),
        col("r._2").isNotNull.as("is_error"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fetch_blob" -> (fetchBlobs _)
  )

  val oracle: Map[String, String] = Map(
    "q_fetch_blob" ->
      """WITH refs AS (
        |  SELECT doc_id,
        |    'doc://' || source || '/' || CAST(doc_id AS VARCHAR) AS input_ref,
        |    (source = 'src19') AS missing
        |  FROM documents)
        |SELECT doc_id, input_ref,
        |  CASE WHEN missing
        |    THEN 'Error: PDF file not found - graft.operators.Fetch$NotFound'
        |    ELSE 'fetched:' || md5('blob:' || input_ref)
        |      || ':' || CAST(length('blob:' || input_ref) AS INT)
        |  END AS output,
        |  missing AS is_error
        |FROM refs ORDER BY doc_id""".stripMargin
  )
}
