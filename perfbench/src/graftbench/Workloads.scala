package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.analytics.Graph
import graft.catalog.Catalog
import graft.dedup.Dedup
import graft.ops.{Dates, Expand, Standardizer}
import graft.sim.Ann
import graft.sources.{Export, Sources, Tables}
import graft.sources.Sources.{DateRange, Year}
import graft.streaming.Streams
import graft.text.{Curation, Rank}

/** The analyst's session: seeded rounds of Source/Table and catalog
  * calls, each driven to the rows the user receives. */
final class ApiInteractive(spec: JsonNode) extends Workload {
  private var t: Map[String, DataFrame] = Map.empty
  private var cat: DataFrame = _
  private val rounds = spec.get("rounds").elements().asScala
    .map(_.elements().asScala.toVector).toVector
  private var next = 0
  private val segments = spec.get("segments").elements().asScala.map(_.asText).toSeq
  def nominalPassS: Double = 6.0

  def open(c: Ctx): Unit = {
    t = Seq("orders", "lineitem", "events", "incidents")
      .map(n => n -> Tables(c.spark, c.data, n)).toMap
    cat = Catalog.catalog(c.spark, c.data)
  }

  /** A pass is one round; passes cycle through the rounds. */
  def pass(c: Ctx): Unit = {
    val r = next % rounds.size
    next += 1
    rounds(r).zipWithIndex.foreach { case (o, i) => one(c, o, s"api:$r:$i") }
  }

  private def one(c: Ctx, o: JsonNode, key: String): Unit = {
    def s(k: String) = o.get(k).asText
    def n(k: String) = o.get(k).asLong
    def rows(name: String, ordered: Boolean)(call: => DataFrame): Unit =
      c.op(name, key)(call)(df => c.collect(df, ordered))
    def scalar(name: String)(call: => Long): Unit =
      c.op(name, key)(call)(v => (Digest.of(Seq(v.toString), ordered = true), 1L))
    s("kind") match {
      case "load_year" => rows("sources.load", ordered = false) {
        Sources.load(t("orders"), date = Some(("o_orderdate", Year(n("year").toInt))),
          select = Seq("o_orderkey", "o_custkey", "o_totalprice"))
      }
      case "load_years" => rows("sources.load", ordered = false) {
        Sources.load(t("orders"), date = Some(("o_orderdate",
            Sources.cleanDateInput(Seq(s("y0"), s("y1"))))),
          agency = Some(("o_orderpriority", s("priority"))),
          select = Seq("o_orderkey", "o_orderpriority"))
      }
      case "load_dates" => rows("sources.load", ordered = false) {
        Sources.load(t("events"), date = Some(("ts",
            Sources.cleanDateInput(Seq(s("start"), s("stop"))))),
          select = Seq("event_id", "user_id", "event_type", "value"))
      }
      case "load_agency" => rows("sources.load", ordered = false) {
        Sources.load(t("events"), date = Some(("ts", DateRange(s("start"), s("end")))),
          agency = Some(("event_type", s("agency"))),
          select = Seq("event_id", "event_type", "value"))
      }
      case "page" => rows("sources.page", ordered = true) {
        Sources.page(t("events"), "event_id", n("offset").toInt, n("nrows").toInt)
          .select("event_id", "event_type", "value")
      }
      case "page_after" => rows("sources.pageAfter", ordered = true) {
        Sources.pageAfter(t("events"), "event_id", n("last"), n("nrows").toInt)
          .select("event_id", "user_id")
      }
      case "load_iter" =>
        c.op("sources.loadIter", key) {
          Sources.loadIter(Sources.load(t("events"),
              date = Some(("ts", DateRange(s("start"), s("end")))),
              select = Seq("event_id", "value")), "event_id", n("chunk").toInt)
        } { it =>
          val all = it.flatMap(_.collect()).toArray
          (Digest.rows(all, ordered = true), all.length.toLong)
        }
      case "count" => scalar("sources.count") {
        Sources.count(t("orders"), date = Some(("o_orderdate", Year(n("year").toInt))),
          agency = Some(("o_orderpriority", s("priority"))))
      }
      case "get_years" => rows("sources.getYears", ordered = true) {
        Sources.getYears(t("orders"), "o_orderdate")
      }
      case "get_agencies" => rows("sources.getAgencies", ordered = true) {
        Sources.getAgencies(t("events"), "event_type", Some(s("partial")))
      }
      case "catalog_query" => rows("catalog.query", ordered = false) {
        Catalog.query(cat, state = Some(s("state")), tableType = Some(s("table_type")))
      }
      case "summary_by_state" => rows("catalog.summaryByState", ordered = false) {
        Catalog.summaryByState(cat, segments)
      }
      case "summary_by_type" => rows("catalog.summaryByType", ordered = false) {
        Catalog.summaryByType(cat)
      }
      case "num_unique" => scalar("catalog.numUnique") { Catalog.numUnique(cat, s("column")) }
      case "merge_related" => rows("sources.mergeRelated", ordered = false) {
        val left = Sources.load(t("orders"), date = Some(("o_orderdate", Year(n("year").toInt))),
            agency = Some(("o_orderpriority", s("priority"))))
          .select(col("o_orderkey").as("order_id"), col("o_custkey"))
        val right = t("lineitem")
          .select(col("l_orderkey").as("order_id"), col("l_linenumber"), col("l_quantity"))
        Sources.mergeRelated(left, right, "order_id")
      }
      case "standardize_page" => rows("ops.standardize", ordered = false) {
        // an analyst's Table.standardize on a loaded page, then the
        // report-date parse and the one-row-per-officer expansion
        val page = Sources.pageAfter(t("incidents"), "incident_id", n("last"), n("nrows").toInt)
        val std = Standardizer.standardize(page, known = Map("DATE" -> "incident date")).df
        val dated = c.tracer.within("ops.parseDateFlexible") {
          std.withColumn("REPORT_DATE", Dates.parseDateFlexible(col("report date")).cast("date"))
        }
        c.tracer.within("ops.expandDelimPos") {
          Expand.expandDelimPos(dated, "involved officers", ";", "officer", "officer_pos")
        }.select("incident_id", "officer_pos", "officer", "DATE", "RACE_SUBJECT",
          "ETHNICITY_SUBJECT", "GENDER_OFFICER", "AGE_SUBJECT", "REPORT_DATE")
      }
      case k => sys.error(s"unknown op $k")
    }
  }
}

/** LLM-data curation over a corpus with planted near-duplicate clusters:
  * quality pipeline, export of the kept documents, a streaming near-dup
  * gate, MinHash dedup with exact confirmation and connected components,
  * tokenize/BM25, semantic dedup, IVF search checked against brute force,
  * and PageRank over the corpus link graph. */
final class LlmCuration(params: JsonNode) extends Workload {
  private var docs: DataFrame = _
  private var embs: DataFrame = _
  private var queries: DataFrame = _
  private var links: DataFrame = _
  private val terms = params.get("bm25_terms").elements().asScala.map(_.asText).toSeq
  def nominalPassS: Double = 15.0

  def open(c: Ctx): Unit = {
    docs = Tables(c.spark, c.data, "documents")
    embs = Tables(c.spark, c.data, "embeddings")
    links = Tables(c.spark, c.data, "links")
    queries = embs.filter(col("vec_id") % params.get("query_every").asLong === 0)
  }

  private def pairText(r: Row) = s"${r.getLong(0)}|${r.getLong(1)}"

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }

  private def parquetFiles(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(parquetFiles).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) 1L else 0L

  def pass(c: Ctx): Unit = {
    val sc = c.spark.sparkContext
    val out = s"${c.out}/curated"
    rm(new File(out))
    var kept: DataFrame = null
    c.op("text.curationPipeline", "llm:curation") {
      Curation.curationPipeline(docs, "doc_id", "text")
    } { df =>
      val verdicts = df.select("doc_id", "keep", "reason").localCheckpoint()
      val rs = verdicts.collect()
      c.tracer.notePhases(df)
      c.notes("text.keep_ratio") = rs.count(_.getBoolean(1)).toDouble / math.max(1, rs.length)
      kept = docs.join(verdicts.filter(col("keep")).select("doc_id"), "doc_id")
      (Digest.rows(rs, ordered = false), rs.length.toLong)
    }
    c.op("sources.toParquet", "llm:export") {
      Export.toParquet(kept, out, "XX", "Bench Crawl", "Bench Crawl", "CURATED DOCUMENTS",
        Left("MULTIPLE"))
    } { path => (path, 0L) }
    c.op("sources.toPartitionedParquet", "llm:export_part") {
      Export.toPartitionedParquet(kept, s"$out/by_source", Seq("source"))
    } { path => (path, 0L) }
    if (c.pass >= 0) c.notes("sources.files_written") =
      c.notes.getOrElse("sources.files_written", 0.0) + parquetFiles(new File(out))
    c.op("streaming.neardupStreamDf", "llm:stream_neardup") {
      // the corpus arriving as a file stream, event time following doc id
      val stream = c.spark.readStream.schema(docs.schema)
        .parquet(s"${c.data}/documents.parquet")
        .withColumn("__evt", timestamp_micros((col("doc_id") + 86400L) * 1000000L))
      Streams.neardupStreamDf(stream, "doc_id", "text", "__evt")
    } { df => (Streams.runToFileSink(df, s"$out/stream_neardup"), 0L) }

    var cand: DataFrame = null
    c.op("dedup.minhashPairs", "llm:minhash") {
      Dedup.minhashPairs(docs, "doc_id", "text", k = 5, numPerms = 128, bands = 32,
        threshold = 0.6, carrySigs = true)
    } { df =>
      cand = df.select("id_a", "id_b").localCheckpoint()
      val n = cand.count()
      c.notes("dedup.candidate_pairs") = n.toDouble
      ("lazy", n)
    }

    var confirmed: DataFrame = null
    c.op("dedup.exactConfirm", "llm:confirm") {
      val g = docs.repartition(sc.defaultParallelism).select(col("doc_id"),
        graft.functions.GraftFunctions.gramHashes(col("text"), 5).as("grams"))
      cand.join(g.as("ga"), col("id_a") === col("ga.doc_id"))
        .join(g.as("gb"), col("id_b") === col("gb.doc_id"))
        .filter(graft.functions.GraftFunctions.jaccardSorted(
          col("ga.grams"), col("gb.grams")) >= 0.8)
        .select("id_a", "id_b")
    } { df =>
      confirmed = df.localCheckpoint()
      val rs = confirmed.collect()
      c.notes("dedup.confirmed_pairs") = rs.length.toDouble
      c.lastRows("llm:confirm") = rs.toSeq.map(pairText)
      (Digest.of(rs.toSeq.map(pairText), ordered = false), rs.length.toLong)
    }

    c.op("dedup.componentsStars", "llm:components") {
      Dedup.componentsStars(confirmed)
    } { df => c.collect(df, ordered = false) }
    sc.getPersistentRDDs.values.foreach(_.unpersist(false))

    c.op("text.tokenize", "llm:tokenize") {
      Rank.tokenize(docs, "doc_id", "text", minDf = params.get("min_df").asLong)
    } { df => c.collect(df.select("doc_id", "n_tokens", "n_oov"),
      ordered = false) }

    c.op("text.bm25", "llm:bm25") {
      Rank.bm25(docs, "doc_id", "text", queryTerms = terms, limit = 10)
    } { df => c.collect(df, ordered = true, keepRows = Some("llm:bm25")) }

    c.op("dedup.semantic", "llm:semantic") {
      Dedup.semantic(embs, "vec_id", "embedding", "label",
        threshold = params.get("semantic_threshold").asDouble)
    } { df => c.collect(df.select("vec_id"), ordered = false) }

    var ivf: Array[Row] = Array.empty
    c.op("sim.ivfTopK", "llm:ivf") {
      Ann.ivfTopK(queries, embs, "vec_id", "embedding", "label", 10, nprobe = 2)
    } { df =>
      ivf = df.select("query_id", "neighbor_id").collect()
      c.tracer.notePhases(df)
      (Digest.rows(ivf, ordered = false), ivf.length.toLong)
    }
    c.op("sim.bruteForceTopK", "llm:bruteforce") {
      Ann.bruteForceTopK(queries, embs, "vec_id", "embedding", 10)
    } { df =>
      val rs = df.select("query_id", "neighbor_id", "cos", "rank").collect()
      c.tracer.notePhases(df)
      val exact = rs.map(r => (r.getLong(0), r.getLong(1))).toSet
      val hit = ivf.count(r => exact((r.getLong(0), r.getLong(1))))
      c.notes("sim.ann_recall_at_10") = hit.toDouble / math.max(1, exact.size)
      c.lastRows("llm:bruteforce") = rs.toSeq.map(r =>
        s"${r.getLong(0)}|${r.getLong(1)}|${r.getDouble(2)}|${r.getInt(3)}")
      ("checked-by-rows", rs.length.toLong)
    }

    c.op("analytics.pageRank", "llm:pagerank") {
      Graph.pageRank(links, "src", "dst", iterations = params.get("pagerank_iters").asInt)
    } { df =>
      val rs = df.select("node", "deg", "pr").collect()
      c.tracer.notePhases(df)
      val txt = rs.toSeq.map(r => s"${r.getLong(0)}|${r.getLong(1)}|${r.getDouble(2)}")
      c.lastRows("llm:pagerank") = txt
      (Digest.of(txt, ordered = false), rs.length.toLong)
    }
    sc.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
