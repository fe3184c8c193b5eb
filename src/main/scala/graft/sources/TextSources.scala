package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.ops.{Q, Tables}

/** Interchange sources/sinks beyond parquet — the JSONL, CSV, and ORC
  * formats corpus snapshots actually arrive in. Thin, deliberately-pinned
  * wrappers over Spark's native json/csv/orc data sources: explicit schema
  * always (schema inference re-reads the data and guesses — a corrupt
  * line silently widens a column to string) and FAILFAST (a malformed
  * record is an error, not a silent null row).
  *
  * The registered queries d80/d81/d86 gate the WRITE → READ round trip
  * against the DuckDB oracle reading the ORIGINAL parquet: equality
  * proves the sink/source pair preserves every row and value, including
  * the quoting/escaping path. Scale: both formats read/write
  * per-partition with no coordination (one file per task, the parquet
  * sink's layout); CSV `multiLine` is OFF here — embedded-newline CSV
  * forces whole-file parsing at scale — and the d81 binding ENFORCES
  * that precondition at write time ([[requireCsvSplitSafe]]) instead of
  * assuming it; data with embedded newlines must opt into
  * [[readCsv]]'s `multiLine = true`. */
object TextSources {

  /** One JSON object per line (JSONL). Directory layout is the standard
    * task-parallel one (part files + _SUCCESS). */
  def writeJsonl(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").json(dir)

  /** Read JSONL under an explicit schema; malformed input fails the job
    * (FAILFAST) — the right default for data the pipeline itself wrote. */
  def readJsonl(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(dir)

  /** CSV with header and RFC-style quoting (quote char doubled via the
    * escape option set to the quote itself — what external CSV
    * consumers expect, rather than Spark's backslash default). Nulls
    * are written as the classic unquoted `\N` sentinel (the MySQL/Hive
    * LOAD convention): with Spark's default nullValue of "", a quoted
    * empty string reads back as null because the reader compares the
    * PARSED value against nullValue after quoting information is gone —
    * the sentinel is the only way the empty-vs-null distinction
    * survives the round trip. Caveat (documented, inherent to the
    * convention): a DATA value equal to the literal two characters \N
    * reads back as null. */
  def writeCsv(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("escape", "\"")
      .option("nullValue", "\\N")
      // Spark's CSV WRITER trims field whitespace by default (the reader
      // does not) — a silent data change; keep bytes as-is
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(dir)

  /** Columnar ORC — the OTHER splittable columnar interchange format
    * large corpora arrive in (Hive-era lakes are ORC, not parquet).
    * Spark's native orc source: columnar scan with column pruning and
    * predicate pushdown exactly like parquet, zlib-compressed stripes,
    * one file per task. Schema is pinned on read — ORC files are
    * self-describing, but an explicit schema turns a drifted upstream
    * file into a read error instead of a silently reshaped frame. */
  def writeOrc(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").orc(dir)

  def readOrc(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(dir)

  /** Fail fast when any string column contains an embedded newline —
    * the precondition for reading CSV with `multiLine` OFF (the
    * splittable, scale-correct mode): a quoted embedded newline written
    * by [[writeCsv]] would be split mid-record by the line-oriented
    * reader (silently wrong rows or a FAILFAST parse error, depending
    * on where the split lands). Callers choose explicitly: scrub the
    * newlines, or read with `multiLine = true` and accept whole-file
    * parsing. One short-circuiting scan (`limit(1)` — stops at the
    * first offending partition). */
  def requireCsvSplitSafe(df: DataFrame): Unit = {
    val strCols = df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.StringType => f.name
    }
    if (strCols.nonEmpty) {
      val bad = strCols.map(c => col(c).rlike("[\\n\\r]")).reduce(_ || _)
      require(df.where(bad).limit(1).count() == 0,
        s"embedded newline/CR in a string column of (${strCols.mkString(", ")}): " +
          "multiLine=false CSV would split the record — scrub the text or " +
          "read with readCsv(..., multiLine = true)")
    }
  }

  /** Read [[writeCsv]] output under an explicit schema, FAILFAST.
    * `multiLine` re-assembles records whose quoted fields contain
    * newlines; it forces non-splittable whole-file parsing, so leave it
    * off unless the data needs it (the flag exists because correctness
    * requires it when embedded newlines are present — a silently
    * split record is worse than a slow read). */
  def readCsv(spark: SparkSession, dir: String, schema: StructType,
      multiLine: Boolean = false): DataFrame =
    spark.read.schema(schema)
      .option("header", "true")
      .option("escape", "\"")
      .option("nullValue", "\\N")
      .option("mode", "FAILFAST")
      .option("multiLine", multiLine.toString)
      .csv(dir)

  // ---- driver bindings -------------------------------------------------

  /** Per-(session, sfDir, format) written-once round-trip directory —
    * run 1 pays the write, later runs only the read (the lmIndexDir
    * memo pattern; directories die with the session). */
  private val dirMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), String]()

  private def roundTripDir(s: SparkSession, d: String, fmt: String,
      write: (DataFrame, String) => Unit): String = {
    val k = (s, d, fmt)
    val hit = dirMemo.get(k)
    if (hit != null) hit
    else {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-src-$fmt").toString
      write(Tables.documents(s, d), dir)
      val prev = dirMemo.putIfAbsent(k, dir)
      if (prev != null) { graft.ops.Corpus.deleteRecursively(dir); prev }
      else {
        graft.Sessions.onStopOnce(s, "textsources-dirs") { () =>
          val it = dirMemo.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e.getKey._1 eq s) {
              graft.ops.Corpus.deleteRecursively(e.getValue); it.remove()
            }
          }
        }
        dir
      }
    }
  }

  private def docCols(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("text"), col("lang"), col("source"),
      col("n_chars"))

  /** Run 2 of each round-trip query reads the memoized written
    * directory — the bench marks them so a warm read is never reported
    * as the cold write+read cost. */
  val MemoizedQueries: Set[String] =
    Set("d80_jsonl_roundtrip", "d81_csv_roundtrip", "d86_orc_roundtrip")

  def queries: Seq[Q] = {
    val oracle = "SELECT doc_id, text, lang, source, n_chars FROM documents"
    Seq(
      Q("d80_jsonl_roundtrip",
        (s, d) => {
          val schema = Tables.documents(s, d).schema
          docCols(readJsonl(s, roundTripDir(s, d, "jsonl", writeJsonl), schema))
        },
        Some(oracle)),
      // the write enforces the multiLine=false precondition (r08 ADVICE:
      // the gate's soundness silently ASSUMED the corpus had no embedded
      // newlines — now a corpus that violates it fails loudly at write
      // time instead of hash-mismatching on silently split rows)
      Q("d81_csv_roundtrip",
        (s, d) => {
          val schema = Tables.documents(s, d).schema
          docCols(readCsv(s, roundTripDir(s, d, "csv", { (df, dir) =>
            requireCsvSplitSafe(df); writeCsv(df, dir)
          }), schema))
        },
        Some(oracle)),
      Q("d86_orc_roundtrip",
        (s, d) => {
          val schema = Tables.documents(s, d).schema
          docCols(readOrc(s, roundTripDir(s, d, "orc", writeOrc), schema))
        },
        Some(oracle)))
  }
}
