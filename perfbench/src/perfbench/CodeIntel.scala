package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.ingest.{GoFrontend, IncrementalIndex, ScipIngest}
import graft.ingest.ScipIngest.{ScipDocument, ScipIndex, ScipOccurrence}
import graft.mcp.McpServer
import graft.store.GraphStore

/** A synthetic Go repository that knows its own answers.
  *
  * Functions are spread over packages and files; each calls a few
  * others, drawn with a Zipf skew so a few hub functions have many
  * callers. The generator renders every file, the SCIP occurrences of
  * every definition and call site, and tracks what each MCP tool must
  * answer as edits land. */
final class GoCorpus(seed: Long, nFiles: Int, fnsPerFile: Int,
    nPackages: Int) {
  final class Fn(val name: String, val path: String, val pkg: String,
      val callees: Vector[Int]) {
    def signature = s"func $name(x int) int"
    def text: String = (Seq(s"$signature {", s"\ty := x + ${name.length}") ++
      callees.map(c => s"\ty = ${fns(c).name}(y)") ++
      Seq("\treturn y", "}")).mkString("\n")
  }
  private val rng = new scala.util.Random(seed)
  val fns = mutable.ArrayBuffer.empty[Fn]
  val files = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Int]]
  /** Live SCIP reference sites per callee: (path, 0-based line, column). */
  val refs = mutable.Map.empty[Int, mutable.ArrayBuffer[(String, Int, Int)]]
  private val nBase = nFiles * fnsPerFile
  // hub skew: rank r (a seeded permutation of the functions) gets weight
  // 1 / (r + 1)
  private val hubCdf: (Array[Int], Array[Double]) = {
    val perm = rng.shuffle((0 until nBase).toVector).toArray
    val w = (0 until nBase).map(r => 1.0 / (r + 1)).scanLeft(0.0)(_ + _).tail
    (perm, w.map(_ / w.last).toArray)
  }
  def hub(): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(hubCdf._2, u)
    hubCdf._1(math.min(if (i >= 0) i else -i - 1, nBase - 1))
  }
  /** Target of the n-th request. Its hub rank follows a fixed
    * low-discrepancy log-uniform sequence (the Zipf law of the call
    * fan-in), so every seed asks about hubs equally often; only which
    * functions the hubs are changes with the seed. */
  def target(n: Int): Int = {
    val u = ((n + 1) * 0.6180339887498949) % 1.0
    hubCdf._1(math.min(math.exp(u * math.log(nBase)).toInt - 1, nBase - 1))
  }
  private def pick(self: Int, k: Int): Vector[Int] = {
    val out = mutable.LinkedHashSet.empty[Int]
    var guard = 0
    while (out.size < k && guard < 100) {
      val c = hub(); if (c != self) out += c; guard += 1
    }
    out.toVector
  }
  (0 until nBase).foreach { id =>
    val f = id / fnsPerFile
    val pkg = f"pkg${f % nPackages}%02d"
    val path = f"$pkg/file$f%04d.go"
    fns += new Fn(f"Handle$id%05d", path, pkg, pick(id, 1 + id % 4))
    files.getOrElseUpdate(path, mutable.ArrayBuffer.empty) += id
  }

  def content(path: String): String = {
    val ids = files(path)
    (Seq(s"package ${fns(ids.head).pkg}", "") ++
      ids.map(i => fns(i).text + "\n")).mkString("\n")
  }
  /** 0-based line of each function header in its file: a package line
    * and a blank line, then each function followed by a blank line. */
  def headerLines(path: String): Seq[(Int, Int)] = {
    var line = 2
    files(path).toSeq.map { i =>
      val h = line; line += fns(i).callees.size + 5; (i, h)
    }
  }
  def headerLine(i: Int): Int = headerLines(fns(i).path).find(_._1 == i).get._2

  def symbol(service: String, i: Int): String =
    s"scip-go go $service v0 ${fns(i).pkg}/${fns(i).name}()."

  /** The SCIP index of the whole corpus: one definition per function and
    * one reference at every call site. */
  def scip(service: String): ScipIndex = {
    refs.clear()
    val docs = files.keys.toSeq.map { path =>
      val occ = headerLines(path).flatMap { case (i, line) =>
        val f = fns(i)
        ScipOccurrence(symbol(service, i), Seq(line, 5, 5 + f.name.length), 1) +:
          f.callees.zipWithIndex.map { case (c, k) =>
            refs.getOrElseUpdate(c, mutable.ArrayBuffer.empty) +=
              ((path, line + 2 + k, 5))
            ScipOccurrence(symbol(service, c),
              Seq(line + 2 + k, 5, 5 + fns(c).name.length), 0)
          }
      }
      ScipDocument(path, occ)
    }
    ScipIndex(docs, Seq.empty)
  }

  /** Append one new function to each of `n` distinct files. Reindexing
    * a file drops the SCIP references it held (they are not re-derived
    * from Go source), so the expected reference sites go with them.
    * Returns (paths, expected summary row). */
  def edit(n: Int): (Seq[String], Seq[Long]) = {
    val paths = rng.shuffle(files.keys.toVector).take(n)
    val stale = paths.map(p => refs.values.map(_.count(_._1 == p)).sum).sum
    refs.values.foreach(_.filterInPlace(r => !paths.contains(r._1)))
    paths.foreach { p =>
      val id = fns.size
      fns += new Fn(f"Added$id%05d", p, fns(files(p).head).pkg,
        pick(id, 2))
      files(p) += id
    }
    val pkgs = paths.map(p => fns(files(p).head).pkg).distinct.size
    val nodes = 1 + paths.size + pkgs + 2 * paths.map(files(_).size).sum
    (paths, Seq(paths.size.toLong, 0L, nodes.toLong, stale.toLong))
  }

  def callers(i: Int): Seq[Int] =
    fns.indices.filter(j => fns(j).callees.contains(i))
  def bytes: Long = files.keys.map(content(_).getBytes("UTF-8").length.toLong).sum
}

/** The `codeintel` workload: index a generated Go repository through
  * `ScipIngest.ingest` and `GoFrontend.ingest` into a fresh
  * `GraphStore`, then run a closed loop of one MCP client: each pass is
  * a batch of `tools/call` requests through `McpServer.handleLine` over
  * all four tools, followed by an `IncrementalIndex.reindex` edit batch.
  * `McpServer` binds its DataFrames when it is built, so the server is
  * rebuilt on the new store view after every batch. Every answer is
  * checked against what the generator knows. */
final class CodeIntel(o: Opts, log: RunLog) {
  private val service = "benchsvc"
  private val editFiles = o("edit_files").toInt
  private val tools = Seq("codegraph_search", "codegraph_get_source",
    "codegraph_find_references", "codegraph_analyze_function")
  // one pass's requests: one call to each tool. No recorded MCP traffic
  // is at hand to weight the tools by, so they weigh the same.
  private val mix = tools
  private var corpus: GoCorpus = _
  private var errorResponses = 0

  private def generate(): GoCorpus = {
    val c = new GoCorpus(o.seed, o("files").toInt, o("fns_per_file").toInt,
      o("packages").toInt)
    c.files.keys.foreach(c.content) // render once, as indexing will
    c
  }

  def run(): SparkSession = {
    // a set-up takes a tenth of a second here, so take more of them
    val (spark, setupTimes) = Harness.setUp(o, 15, _ => corpus = generate())
    val tr = new Tracer(spark)
    val srcBytes = corpus.bytes
    val storeDir = new File(s"${o.out}/store")
    def storeBytes: Long = CodeIntel.du(storeDir)
    tr.attach(o.trace)
    val store = new GraphStore(spark, storeDir.getPath)
    val index = corpus.scip(service)
    val contents = corpus.files.keys.map(p => p -> corpus.content(p)).toMap
    val (_, scipSpan) = tr.span("codeintel/index/scip") {
      ScipIngest.ingest(store, spark, index, service, contents)
    }
    val (_, goSpan) = tr.span("codeintel/index/go") {
      GoFrontend.ingest(store, filesDf(spark), service)
    }
    System.err.println(f"[perfbench] index scip ${scipSpan.seconds}%.3f s " +
      f"go ${goSpan.seconds}%.3f s")
    var written = storeBytes
    val indexS = scipSpan.seconds + goSpan.seconds
    val (ingestJobs, _, _) = tr.within(Seq(scipSpan, goSpan))

    var server = new McpServer(store.nodes, store.edges)
    val reindexS = mutable.ArrayBuffer.empty[Double]
    val summaries = mutable.ArrayBuffer.empty[Seq[Long]]
    // one pass: the request batch, then the edit batch and a new server
    def pass(p: Int): (Seq[Span], Seq[Span]) = {
      val calls = mix.indices.map { k =>
        val tool = mix(k)
        (tool, callTool(tr, server, p, k, tool))
      }
      val (paths, expect) = corpus.edit(editFiles)
      val (summary, span) = tr.span(s"codeintel/pass$p/reindex") {
        try Right(IncrementalIndex.reindex(store, filesDf(spark), service)
          .collect().head)
        catch { case NonFatal(e) => Left(e) }
      }
      log.attempted += 1
      reindexS += span.seconds
      System.err.println(f"[perfbench] pass $p reindex ${span.seconds}%.3f s")
      summary match {
        case Left(e) => log.fail(s"reindex pass $p: $e")
        case Right(r) =>
          val got = (0 until 4).map(r.getLong)
          summaries += got
          if (got != expect) log.mismatch(
            s"reindex pass $p of ${paths.size} files: summary $got, expected $expect")
      }
      written += math.max(storeBytes - written, 0L)
      val (_, rebuild) = tr.span(s"codeintel/pass$p/server") {
        server = new McpServer(store.nodes, store.edges)
      }
      (calls.map(_._2), Seq(span, rebuild))
    }
    val (cold, warm) = Passes.run(o, tr, pass)
    Passes.report(o, log, tr, setupTimes, indexS + cold.seconds, warm, "store")
    if (o.trace) {
      val lat = warm.flatMap(_.calls.map(_.seconds))
      log.put("ingest.index_s", indexS, "s")
      log.put("ingest.scip_s", scipSpan.seconds, "s")
      log.put("ingest.go_s", goSpan.seconds, "s")
      log.put("ingest.jobs", ingestJobs.size.toDouble, "count")
      log.put("ingest.reindex_s", reindexS.sum / reindexS.size, "s")
      log.put("ingest.reindex_p50_ms", Stats.median(reindexS.toSeq) * 1000, "ms")
      Seq("changed_files" -> 0, "new_nodes" -> 2, "stale_nodes" -> 3)
        .foreach { case (m, i) =>
          log.put(s"ingest.$m",
            summaries.map(_(i)).sum.toDouble / math.max(summaries.size, 1),
            "count")
        }
      val dirs = Option(storeDir.listFiles).toSeq.flatten.filter(_.isDirectory)
      log.put("store.delta_dirs", dirs.count(_.getName.contains("_delta_")).toDouble, "count")
      log.put("store.snapshot_dirs", dirs.count(!_.getName.contains("_delta_")).toDouble, "count")
      log.put("store.bytes_written_mb", written / 1048576.0, "MB")
      log.put("store.bytes_per_src_byte", storeBytes.toDouble / srcBytes, "ratio")
      log.put("mcp.tool_p50_ms", Stats.quantile(lat, 0.5) * 1000, "ms")
      log.put("mcp.tool_p90_ms", Stats.quantile(lat, 0.9) * 1000, "ms")
      tools.foreach { t =>
        log.put(s"mcp.${t.stripPrefix("codegraph_")}_p50_ms", Stats.median(
          warm.flatMap(_.calls).filter(_.name.endsWith(s"/$t")).map(_.seconds)) * 1000,
          "ms")
      }
      val tracedCalls = warm.filter(_.traced).flatMap(_.calls)
      log.put("mcp.jobs_per_call",
        tr.within(tracedCalls)._1.size.toDouble / math.max(tracedCalls.size, 1),
        "count")
      log.put("mcp.error_responses", errorResponses.toDouble, "count")
    }
    spark
  }

  private def filesDf(spark: SparkSession) = {
    import spark.implicits._
    corpus.files.keys.toSeq.map(p => (p, corpus.content(p)))
      .toDF("path", "content")
  }

  private def callTool(tr: Tracer, server: McpServer, p: Int, k: Int,
      tool: String): Span = {
    val target = corpus.target(p * mix.size + k)
    val f = corpus.fns(target)
    val args = tool match {
      case "codegraph_search" => s"""{"query":"${f.name}"}"""
      case "codegraph_find_references" =>
        s"""{"symbol":"${corpus.symbol(service, target)}"}"""
      case _ => s"""{"function_name":"${f.name}"}"""
    }
    val req = s"""{"jsonrpc":"2.0","id":${p * 1000 + k},"method":"tools/call",""" +
      s""""params":{"name":"$tool","arguments":$args}}"""
    val (resp, span) = tr.span(s"codeintel/pass$p/$tool") {
      try Right(server.handleLine(req).get)
      catch { case NonFatal(e) => Left(e) }
    }
    log.attempted += 1
    System.err.println(f"[perfbench] pass $p $tool ${span.seconds}%.3f s")
    resp match {
      case Left(e) => log.fail(s"$tool ${f.name}: $e")
      case Right(line) =>
        val json = parse(line)
        val text = json \ "result" \ "content" match {
          case JArray(c :: _) => c \ "text" match { case JString(s) => s; case _ => "" }
          case _ => ""
        }
        val isError = (json \ "error") != JNothing ||
          (json \ "result" \ "isError") == JBool(true)
        if (isError) {
          errorResponses += 1
          log.fail(s"$tool ${f.name}: ${line.take(160)}")
        } else expected(tool, target).foreach { want =>
          if (!matches(tool, text, want))
            log.mismatch(s"$tool ${f.name}: got ${text.take(200)} expected ${want.take(200)}")
        }
    }
    span
  }

  /** What the tool must answer for `target`, from the generator. */
  private def expected(tool: String, i: Int): Option[String] = {
    val f = corpus.fns(i)
    def list(ids: Seq[Int]) =
      ids.map(corpus.fns(_)).sortBy(_.name).take(10)
        .map(g => s"- **${g.name}** (${g.path})").mkString("\n")
    Some(tool match {
      case "codegraph_search" =>
        val (start, loc) = (corpus.headerLine(i) + 1, f.callees.size + 4)
        s"**${f.name}** (Function)\n  File: ${f.path}\n" +
          s"  Signature: ${f.signature}\n  Lines: $start-${start + loc - 1}\n" +
          s"  Lines of Code: $loc\n"
      case "codegraph_get_source" =>
        s"Source code for function '${f.name}':\n\n```go\n${f.text}\n```\n"
      case "codegraph_find_references" =>
        val rs = corpus.refs.getOrElse(i, mutable.ArrayBuffer.empty).toSeq
        if (rs.isEmpty) s"No references found for symbol: ${corpus.symbol(service, i)}"
        else s"Found ${rs.size} reference(s) for '${corpus.symbol(service, i)}':\n\n" +
          rs.sorted.map { case (pa, l, c) => s"**$pa**\n  Line: $l, Column: $c\n\n" }
            .mkString
      case _ =>
        val callers = corpus.callers(i)
        val callees = f.callees
        "### Called By\n" +
          (if (callers.isEmpty) "- No callers found" else list(callers)) +
          "\n\n### Calls\n" +
          (if (callees.isEmpty) "- No function calls found" else list(callees))
    })
  }

  private def matches(tool: String, text: String, want: String): Boolean =
    tool match {
      // the first hit block, after the "Found N result(s)" header
      case "codegraph_search" => text.split("\n\n").lift(1).exists(b => (b + "\n") == want)
      case "codegraph_analyze_function" =>
        text.indexOf("### Called By") match {
          case -1 => false
          case i => text.substring(i).trim == want.trim
        }
      case _ => text == want
    }
}

object CodeIntel {
  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum
    else f.length

  /** The code-intelligence layers do no work on the analytics workloads. */
  def absentLayers(log: RunLog): Unit = Seq(
    "ingest.index_s" -> "s", "ingest.scip_s" -> "s", "ingest.go_s" -> "s",
    "ingest.jobs" -> "count", "ingest.reindex_s" -> "s",
    "ingest.reindex_p50_ms" -> "ms", "ingest.changed_files" -> "count",
    "ingest.new_nodes" -> "count", "ingest.stale_nodes" -> "count",
    "store.delta_dirs" -> "count", "store.snapshot_dirs" -> "count",
    "store.bytes_written_mb" -> "MB", "store.bytes_per_src_byte" -> "ratio",
    "mcp.tool_p50_ms" -> "ms", "mcp.tool_p90_ms" -> "ms",
    "mcp.search_p50_ms" -> "ms", "mcp.get_source_p50_ms" -> "ms",
    "mcp.find_references_p50_ms" -> "ms",
    "mcp.analyze_function_p50_ms" -> "ms", "mcp.jobs_per_call" -> "count",
    "mcp.error_responses" -> "count"
  ).foreach { case (m, u) => log.put(m, 0.0, u) }
}
