package graft.operators

import graft.{Op, T}
import graft.Num.{dsum, sqlDsum}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source-format breadth: lossless roundtrips through JSON-lines and CSV
  * file sources (schema-first reads — never schema inference, which costs an
  * extra full pass at scale). Each op writes the fixture out in the target
  * format, reads it back with an explicit schema, and aggregates with a
  * content checksum; the oracle computes the same from the parquet fixture,
  * so any roundtrip corruption breaks the hash-match.
  */
object SourceOps {

  val ops: Seq[Op] = Seq(
    // ------------------------------------------------------------------
    Op(
      "w03_json_source",
      (s, d) => {
        val dir = graft.streaming.Streaming.scratchDir("graft_json_")
        T.documents(s, d).write.mode("overwrite").json(dir)
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        s.read.schema(schema).json(dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"),
            sum(expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)"))
              .as("content_sum"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    // ------------------------------------------------------------------
    // ORC roundtrip (columnar-format breadth beyond parquet): same
    // checksum-aggregation contract as w03, so any corruption in the ORC
    // writer/reader path breaks the hash-match against the parquet oracle.
    Op(
      "w05_orc_source",
      (s, d) => {
        val dir = graft.streaming.Streaming.scratchDir("graft_orc_")
        T.documents(s, d).write.mode("overwrite").orc(dir)
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        s.read.schema(schema).orc(dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"),
            sum(expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)"))
              .as("content_sum"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    // ------------------------------------------------------------------
    // Corrupt-record quarantine: a real ingestion feed always carries some
    // malformed lines; PERMISSIVE parsing routes them to _corrupt_record
    // instead of failing the job (fail-fast would kill a 100 TB backfill on
    // one bad line). A deterministic subset (doc_id % 10 == 3) is corrupted
    // at staging so the oracle reproduces the quarantine counts exactly.
    Op(
      "w06_corrupt_records",
      (s, d) => {
        val dir = graft.streaming.Streaming.scratchDir("graft_bad_")
        T.documents(s, d).select(
          when(col("doc_id") % 10 === 3,
            concat(lit("{broken "), col("doc_id").cast(StringType)))
            .otherwise(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))))
            .as("value"))
          .write.mode("overwrite").text(dir)
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType),
          StructField("n_chars", LongType),
          StructField("_corrupt_record", StringType)))
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(dir)
          .agg(count(lit(1)).as("n_total"),
            count(col("_corrupt_record")).as("n_corrupt"),
            count(col("doc_id")).as("n_parsed"),
            sum("n_chars").as("sum_chars_parsed"))
      },
      Some("""SELECT COUNT(*) AS n_total,
        |  COUNT(*) FILTER (doc_id % 10 = 3) AS n_corrupt,
        |  COUNT(*) FILTER (doc_id % 10 <> 3) AS n_parsed,
        |  CAST(SUM(n_chars) FILTER (doc_id % 10 <> 3) AS BIGINT) AS sum_chars_parsed
        |FROM documents""".stripMargin)),
    // ------------------------------------------------------------------
    // XML roundtrip (Spark 4's built-in XML source — the remaining
    // first-class file format after json/csv/orc/parquet): same
    // checksum-aggregation contract as w03/w05, schema-first read (no
    // inference pass), explicit rowTag. Any escaping or type-mapping
    // corruption in the XML writer/reader breaks the hash-match against
    // the parquet oracle.
    Op(
      "w07_xml_source",
      (s, d) => {
        val dir = graft.streaming.Streaming.scratchDir("graft_xml_")
        T.documents(s, d).write.mode("overwrite")
          .option("rowTag", "doc").format("xml").save(dir)
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        s.read.schema(schema).option("rowTag", "doc").format("xml").load(dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"),
            sum(expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)"))
              .as("content_sum"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    // ------------------------------------------------------------------
    Op(
      "w04_csv_source",
      (s, d) => {
        val dir = graft.streaming.Streaming.scratchDir("graft_csv_")
        T.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"),
            date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate"),
            col("o_orderpriority"))
          .write.mode("overwrite").option("header", "true").csv(dir)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType),
          StructField("o_orderdate", StringType),
          StructField("o_orderpriority", StringType)))
        s.read.schema(schema).option("header", "true").csv(dir)
          .withColumn("o_orderdate", to_timestamp(col("o_orderdate")))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"),
            min("o_orderdate").as("first_order"), max("o_orderdate").as("last_order"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n,
        |  ${sqlDsum("o_totalprice")} AS revenue,
        |  date_trunc('second', MIN(o_orderdate)) AS first_order,
        |  date_trunc('second', MAX(o_orderdate)) AS last_order
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    // ------------------------------------------------------------------
    // Schema-evolution ingest: a long-running crawl's schema drifts — later
    // batches add columns earlier batches lack. Two parquet batches land in
    // one dataset dir with different schemas (legacy: doc_id+n_chars; new:
    // +lang); the mergeSchema read unions them with nulls for the missing
    // column, and the rollup buckets legacy rows under '<legacy>'. The
    // deterministic doc_id%2 batch split lets the oracle reproduce the
    // evolved read exactly. At 100 TB re-writing old batches to the new
    // schema is a full-corpus rewrite — schema-merge on read is the only
    // affordable path, and this gate proves it loses nothing.
    Op(
      "w08_schema_evolution",
      (s, d) => {
        val dir = graft.streaming.Streaming.scratchDir("graft_evo_")
        T.documents(s, d).filter(col("doc_id") % 2 === 0)
          .select("doc_id", "n_chars")
          .write.mode("overwrite").parquet(dir)
        T.documents(s, d).filter(col("doc_id") % 2 === 1)
          .select("doc_id", "n_chars", "lang")
          .write.mode("append").parquet(dir)
        s.read.option("mergeSchema", "true").parquet(dir)
          .groupBy(coalesce(col("lang"), lit("<legacy>")).as("lang_bucket"))
          .agg(count(lit(1)).as("n"),
            sum("n_chars").cast(LongType).as("sum_chars"),
            min("doc_id").as("min_id"), max("doc_id").as("max_id"))
          .orderBy("lang_bucket")
      },
      Some("""SELECT CASE WHEN doc_id % 2 = 1 THEN lang ELSE '<legacy>' END
        |    AS lang_bucket,
        |  COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents GROUP BY 1 ORDER BY lang_bucket""".stripMargin)),
    // ------------------------------------------------------------------
    // JDBC source (embedded Derby — the only RDBMS in this container):
    // operational-database ingest done the scale-correct way. The read is
    // PARTITIONED (partitionColumn/lowerBound/upperBound/numPartitions=4),
    // so Spark issues 4 range-predicate queries in parallel instead of one
    // single-connection full scan — at a real warehouse extract this is the
    // difference between one 100-GB cursor and N bounded cursors feeding N
    // executors. The filter is pushed into the database as SQL (visible as
    // PushedFilters in the JDBC scan), and the decimal checksum aggregation
    // proves the roundtrip lossless against the parquet-fixture oracle.
    Op(
      "w09_jdbc_source",
      (s, d) => {
        val props = new java.util.Properties()
        props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        def url(dbDir: String) = s"jdbc:derby:$dbDir/db;create=true"
        val dbDir = graft.streaming.Streaming.stagedDir("derby", d) { p =>
          // Derby's log, read when it first boots, else derby.log in the
          // working dir
          System.setProperty("derby.stream.error.file", s"$p/derby.log")
          T.orders(s, d)
            .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
              col("o_totalprice"), col("o_orderpriority"))
            .write.mode("overwrite").jdbc(url(p), "graft_orders", props)
        }
        val bounds = T.orders(s, d)
          .agg(min("o_orderkey"), max("o_orderkey")).head()
        s.read
          .option("partitionColumn", "o_orderkey")
          .option("lowerBound", bounds.getLong(0))
          .option("upperBound", bounds.getLong(1) + 1)
          .option("numPartitions", 4)
          .jdbc(url(dbDir), "graft_orders", props)
          .filter(col("o_totalprice") > 100000.0)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"),
            min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
          .orderBy("o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n,
        |  ${sqlDsum("o_totalprice")} AS revenue,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders WHERE o_totalprice > 100000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ------------------------------------------------------------------
    // binaryFile source: the raw-blob ingestion path every multimodal
    // pipeline starts from (image/audio/video files on object storage →
    // one row per file with path metadata + `content` bytes; the mm01-mm06
    // family then takes over on the binary column). Staging writes a
    // bounded 40-doc slice as UTF-8 .bin files (driver-side FIXTURE PREP,
    // not the data path — at scale the files already exist on storage);
    // the measured path is Spark's binaryFile DataSource: a distributed
    // file-listing scan with pathGlobFilter pushdown, no schema inference,
    // content read once per file. Identity is verified end-to-end: byte
    // length and md5-of-bytes per recovered doc_id must hash-match DuckDB
    // computing the same from the parquet fixture (both md5s are over the
    // UTF-8 encoding, so any staging/transport corruption breaks the gate).
    Op(
      "w10_binaryfile_source",
      (s, d) => {
        val dir = graft.streaming.Streaming.scratchDir("graft_bin_")
        T.documents(s, d).filter(col("doc_id") < 40)
          .select("doc_id", "text").collect()
          .foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dir, f"doc_${r.getLong(0)}%05d.bin"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(dir)
          .select(
            regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
              .cast(LongType).as("doc_id"),
            col("length").as("n_bytes"),
            md5(col("content")).as("content_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents WHERE doc_id < 40 ORDER BY doc_id""".stripMargin)),
    // ------------------------------------------------------------------
    // Line-delimited TEXT source — the rawest ingest format web corpora
    // arrive in (one record per line, fields packed with a control-char
    // separator because free text owns every printable one). The corpus
    // roundtrips documents -> -packed lines -> spark.read.text ->
    // split-parse, then proves losslessness per language: counts, char
    // mass, and an order-independent content checksum (bit-xor of the
    // 64-bit text hash — commutative, so file/split order cannot move
    // it) must equal the same aggregates computed straight off parquet.
    // Scale shape: text read is splittable by line, the parse is a
    // codegen'd split() projection, and the rollup is map-side partial —
    // ingest cost is one scan at any corpus size.
    Op(
      "w11_text_source",
      (s, d) => {
        // staged through Streaming.stagedDir (the engine's scratch-dir
        // convention): lands on the shared scratch base instead of leaking a
        // fresh corpus-sized /tmp directory per invocation, and the staging
        // write runs once per scale factor -- later bench passes reuse it.
        val dir = graft.streaming.Streaming.stagedDir("w11txt", d) { dir =>
          // packing contract: the separator (\x01) and the line terminator
          // must not occur in the payload -- a text containing either would
          // shift fields / split rows and silently corrupt the roundtrip.
          // Enforce loudly instead of assuming (a production packer would
          // escape; the fixture corpus is space-separated words).
          val dirty = T.documents(s, d)
            .filter(col("text").contains("") || col("text").contains("\n") ||
              col("text").contains("\r")) // \r also terminates Hadoop lines
            .count()
          require(dirty == 0L,
            s"w11 packing precondition violated: $dirty documents contain " +
              "the field separator or a newline")
          T.documents(s, d)
            .select(concat_ws("",
              col("doc_id").cast(StringType), col("lang"), col("text")).as("value"))
            .write.mode("overwrite").text(dir)
        }
        s.read.text(dir)
          .select(split(col("value"), "").as("f"))
          .select(col("f").getItem(0).cast(LongType).as("doc_id"),
            col("f").getItem(1).as("lang"), col("f").getItem(2).as("text"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast(LongType)).as("n_chars"),
            // commutative bit-xor aggregate of a 32-bit content hash:
            // identical under any file order / split boundary placement,
            // and map-side partial like any other aggregate
            expr("bit_xor(cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint))")
              .as("content_xor"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |  CAST(bit_xor(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
        |    AS content_xor
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    // ------------------------------------------------------------------
    // HIVE-STYLE PARTITIONED LAYOUT — the third physical-layout family
    // next to q46 (range clustering) and q55 (Z-order): the corpus lands
    // partitioned by its dominant filter column (lang), so a
    // single-language read is PARTITION-PRUNED — the non-matching
    // directories are never opened, which at 100 TB is the difference
    // between scanning one language and scanning the world. The gate
    // reads ONE partition back and proves (a) losslessness of the
    // partitioned write (counts + char mass + order-independent content
    // xor against the unpartitioned fixture) and (b) that the partition
    // column round-trips from the directory name, not the file payload.
    // PlanSuite separately pins PartitionFilters in the pruned scan.
    Op(
      "w12_hive_partitioned",
      (s, d) => {
        val dir = graft.streaming.Streaming.stagedDir("w12hive", d) { dir =>
          T.documents(s, d).write.mode("overwrite")
            .partitionBy("lang").parquet(dir)
        }
        s.read.parquet(dir)
          .filter(col("lang") === "en" || col("lang") === "zh")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast(LongType)).as("n_chars"),
            expr("bit_xor(cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint))")
              .as("content_xor"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |  CAST(bit_xor(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
        |    AS content_xor
        |FROM documents WHERE lang IN ('en', 'zh')
        |GROUP BY lang ORDER BY lang""".stripMargin)),
    // ------------------------------------------------------------------
    // NESTED-STRUCT SCHEMA PRUNING — documents persisted in the nested
    // shape real lakehouse corpora use (metadata struct wrapping the
    // payload): a rollup that touches only two metadata leaves must reach
    // the parquet scan with a ReadSchema of JUST those leaves — at 100 TB
    // reading `meta.stats.n_tok` without pruning drags the text payload
    // (~99% of the bytes) through every scan. The values gate proves the
    // nested roundtrip; PlanSuite pins that the scan's ReadSchema
    // excludes the payload column (Spark's nested-schema-pruning rule at
    // work — declarative select, no manual projection pushdown).
    Op(
      "w13_nested_pruning",
      (s, d) => {
        val dir = graft.streaming.Streaming.stagedDir("w13nest", d) { dir =>
          T.documents(s, d)
            .select(col("doc_id"),
              struct(col("lang"), col("source"),
                struct(col("n_chars"),
                  size(split(col("text"), " ")).cast(LongType).as("n_tok"))
                  .as("stats")).as("meta"),
              col("text"))
            .write.mode("overwrite").parquet(dir)
        }
        s.read.parquet(dir)
          .select(col("meta.lang").as("lang"),
            col("meta.stats.n_tok").as("n_tok"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    // ------------------------------------------------------------------
    // COMPRESSED TEXT SOURCE — w11's delimited round-trip through GZIP
    // files, the wire format most raw web-crawl corpora actually arrive
    // in. The scale lesson this op pins: gzip is NOT splittable, so read
    // parallelism is exactly the FILE count (one task per .gz whatever
    // maxPartitionBytes says) — the staging writes 4 files and the gate
    // proves the reader saw exactly 4 (distinct input_file_name()), i.e.
    // a 100 TB .gz corpus must arrive pre-sharded into enough files to
    // feed the cluster, or be transcoded to a splittable codec on
    // ingest. Content parity rides the commutative per-lang xor hash
    // (file order / task placement independent).
    Op(
      "w14_compressed_text",
      (s, d) => {
        val dir = graft.streaming.Streaming.stagedDir("w14gz", d) { dir =>
          // fail LOUDLY at staging time (r7 advice) rather than confusingly
          // at the gate: the round-trip assumes >= 4 docs (so no repartition
          // output file is empty and n_files = 4 holds) and that text never
          // embeds the \u0001 delimiter or a newline (.text() is
          // line-framed). A fixture change breaking either surfaces here
          // with the staging assumption named, not as a baffling hash miss.
          val chk = T.documents(s, d).agg(
            count(lit(1)).as("n"),
            sum(when(col("text").contains("\u0001")
              || col("text").contains("\n")
              || col("text").contains("\r"), 1L).otherwise(0L)).as("bad"))
            .head()
          require(chk.getLong(0) >= 4,
            s"w14 staging: fixture has ${chk.getLong(0)} docs; the 4-file " +
              "gzip granularity gate needs >= 4")
          require(chk.getLong(1) == 0,
            s"w14 staging: ${chk.getLong(1)} docs embed the delimiter or " +
              "a newline; the line-framed round-trip would corrupt them")
          T.documents(s, d)
            .select(concat_ws("",
              col("doc_id").cast(StringType), col("lang"), col("text"))
              .as("value"))
            .repartition(4)
            .write.mode("overwrite").option("compression", "gzip").text(dir)
        }
        val parsed = s.read.text(dir)
          .select(split(col("value"), "").as("f"),
            input_file_name().as("src"))
          .select(col("f").getItem(1).as("lang"),
            col("f").getItem(2).as("text"), col("src"))
        val nFiles = parsed.agg(countDistinct("src").as("n_files"))
        parsed.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast(LongType)).as("n_chars"),
            expr("bit_xor(cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint))")
              .as("content_xor"))
          .crossJoin(broadcast(nFiles))
          .select(col("lang"), col("n_docs"), col("n_chars"),
            col("content_xor"), col("n_files"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |  CAST(bit_xor(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
        |    AS content_xor,
        |  CAST(4 AS BIGINT) AS n_files
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    // ------------------------------------------------------------------
    // SCHEMA EVOLUTION — how a 100 TB corpus actually accretes: years of
    // files written under different schema versions living in ONE table.
    // v1 files (even doc_ids, "the 2019 crawl") carry (doc_id, lang,
    // text); v2 files (odd doc_ids) append quality_score and tok_count.
    // The read declares mergeSchema=true — Spark unions the footers into
    // one schema and nulls the missing columns on v1 rows — and the
    // rollup pins BOTH consumption policies: count/sum over the nullable
    // column (nulls skipped: n_scored counts only v2 rows) and COALESCE
    // backfill from the payload (n_tokens recomputes tok_count for v1
    // rows — the "derive what old files never wrote" migration pattern).
    // Scale: footer merge is metadata-only; the per-row cost is the same
    // scan either way. The oracle reconstructs both policies from the
    // version rule (doc_id parity), so a row routed to the wrong schema
    // version or a null that leaks into a sum flips the hash.
    Op(
      "w15_schema_evolution",
      (s, d) => {
        val dir = graft.streaming.Streaming.stagedDir("w15evo", d) { dir =>
          T.documents(s, d).filter(col("doc_id") % 2 === 0)
            .select("doc_id", "lang", "text")
            .coalesce(1).write.mode("append").parquet(dir)
          T.documents(s, d).filter(col("doc_id") % 2 === 1)
            .select(col("doc_id"), col("lang"), col("text"),
              (col("doc_id") % 100).as("quality_score"),
              size(split(col("text"), " ")).cast(LongType).as("tok_count"))
            .coalesce(1).write.mode("append").parquet(dir)
        }
        s.read.option("mergeSchema", "true").parquet(dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            count(col("quality_score")).as("n_scored"),
            sum(col("quality_score")).as("score_sum"),
            sum(coalesce(col("tok_count"),
              size(split(col("text"), " ")).cast(LongType))).as("n_tokens"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_scored,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN doc_id % 100 END) AS BIGINT)
        |    AS score_sum,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    // ------------------------------------------------------------------
    // DYNAMIC PARTITION PRUNING — the 100 TB partitioned-layout
    // cornerstone w12's static pruning doesn't cover: the fact table is
    // laid out partitioned by l_returnflag, and the probe joins it to a
    // dimension whose filter (cnt == max) is NOT transitively inferable
    // at plan time — only Spark's DPP can translate the dim-side cut
    // into a runtime PartitionFilter on the fact scan (PlanSuite pins
    // the dynamicpruningexpression). On a real warehouse this is the
    // difference between scanning one partition and scanning the table
    // whenever the partition predicate arrives through a join (date
    // dimensions, enum dictionaries). The aggregate itself uses the
    // decimal-exact money sums, so the gate also proves the pruned scan
    // loses no rows.
    Op(
      "w16_dynamic_partition_pruning",
      (s, d) => {
        val dir = graft.streaming.Streaming.stagedDir("w16dpp", d) { dir =>
          T.lineitem(s, d)
            .select("l_orderkey", "l_partkey", "l_quantity",
              "l_extendedprice", "l_returnflag")
            .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
        }
        val fact = s.read.parquet(dir)
        val cnt = T.lineitem(s, d)
          .groupBy(col("l_returnflag").as("rf"))
          .agg(count(lit(1)).as("cnt"))
        // resolve the max count to a LITERAL (one-scalar driver probe, the
        // g04 seed-pick idiom): DPP's isLikelySelective admits only
        // literal predicates on the dim, and a literal on cnt is not
        // transitively inferable onto the join key — exactly the shape
        // where only dynamic pruning can cut the fact scan
        val mxV = cnt.agg(max("cnt")).head().getLong(0)
        val dim = cnt.filter(col("cnt") === mxV).select("rf")
        fact.join(broadcast(dim), fact("l_returnflag") === col("rf"))
          .groupBy(col("rf"))
          .agg(count(lit(1)).as("n"),
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy("rf")
      },
      Some(s"""WITH cnt AS (
        |  SELECT l_returnflag AS rf, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |dim AS (SELECT rf FROM cnt WHERE cnt = (SELECT MAX(cnt) FROM cnt))
        |SELECT d.rf, COUNT(*) AS n,
        |  ${sqlDsum("l.l_quantity")} AS sum_qty,
        |  ${sqlDsum("l.l_extendedprice")} AS sum_price
        |FROM lineitem l JOIN dim d ON l.l_returnflag = d.rf
        |GROUP BY d.rf ORDER BY d.rf""".stripMargin)),
  )
}
