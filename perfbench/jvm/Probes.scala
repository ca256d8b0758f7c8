package perfbench

import graft.pipeline.PageGen
import scala.collection.mutable.LinkedHashMap

/** The layer probes of a traced run. Every traced run reports the same
  * per-layer set, so before its measured calls it probes each layer its
  * own job does not exercise, in this order:
  *
  *  - `WarcSource`/`StreamingIngest` on a small pinned stream corpus
  *    (400 pages in 4 segments), checked against its pin, then
  *    `WarcReader.records` over the same segments. Going first, it also
  *    takes the JIT warm-up of the extract and curate paths;
  *  - the extract stage and commit layers: the `extract` workload reuses
  *    its own table and traced call; any other workload writes a table of
  *    its own page count and runs `ExtractPipeline.run` once on it;
  *  - the single-thread core on a sample of that table;
  *  - the PagesQueries of the `query` round, in a fresh session, checked.
  *
  * Probe checks count as operations of the run, so a failed probe fails
  * the run.
  */
final class Probes(ctx: Ctx, w: Workload) {
  import Probes._
  private val tracer = ctx.tracer
  private var stream: StreamWorkload = _
  private var queries: QueryWorkload = _

  def run(): Map[String, Any] = {
    val layer = LinkedHashMap.empty[String, Any]

    stream = w match {
      case s: StreamWorkload => s
      case _ =>
        val s = new StreamWorkload(Pins.StreamProbe)
        tracer.span("stream.setup")(s.setupOnce(ctx))
        tracer.span("stream-probe")(s.iteration(ctx, 0))
        s
    }
    val segments = new java.io.File(stream.landing(ctx)).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).toSeq
    layer("warc") = tracer.span("warc.read")(CoreProbe.warcRead(segments, passes = 3))

    val extract = w match {
      case e: ExtractWorkload => e
      case _ =>
        val p = new ExtractWorkload(w.docs)
        tracer.span("probe.setup")(p.setupOnce(ctx))
        layer("probe_files_written") = p.pipelineOnly(ctx)
        p
    }
    extract.stageOnly(ctx)
    layer("probe_pages") = extract.docs
    val stride = math.max(1L, extract.docs / CoreSample)
    val sample = (0 until CoreSample).map(k => PageGen.page(ctx.seed, k * stride)).toArray
    layer("core") = tracer.span("core")(CoreProbe.run(sample, passes = 3))

    queries = w match {
      case q: QueryWorkload => q
      case _ =>
        val q = new QueryWorkload(QueryWorkload.PagesOnly, s"${ctx.work}/$PagesScale")
        tracer.span("query-probe")(q.iteration(ctx, 0))
        q
    }
    layer.toMap
  }

  /** The stream and query layer records. For the `stream` and `query`
    * workloads they come from their own traced call, so read them after it.
    */
  def records(): Map[String, Any] = Map(
    "stream" -> stream.extra(ctx), "queries" -> queries.perQuery.toSeq)
}

object Probes {
  /** Pages in the core-layer sample (evenly strided over the table). */
  val CoreSample = 800
  /** The directory key of the pages-only queries: PagesQueries sizes its
    * page sample by the scale in the name ("sf0.1" = 4,000 pages) and
    * reads nothing under it.
    */
  val PagesScale = "sf0.1"
}
