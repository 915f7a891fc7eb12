package loadbench

/** The traced run's one output file: spans (name, start, end, parent,
  * op id), counters, sample summaries and the per-layer table. Spans nest
  * as cycle > operation > (jobs, maintenance, replays); set-up spans and
  * side calls outside any operation have no parent. */
object TraceFile {
  def render(t: Tracer, ops: Seq[Op], layers: Seq[(String, Double, String)]): String = {
    val m = Panels.mapper
    val root = m.createObjectNode()
    val spans = root.putArray("spans")
    var next = 0
    def add(name: String, start: Long, end: Long, parent: Int, opId: Int): Int = {
      spans.addObject().put("id", next).put("name", name).put("start_ms", start)
        .put("end_ms", end).put("parent", parent).put("op_id", opId)
      next += 1
      next - 1
    }
    t.spans.filter(_.name.startsWith("setup.")).foreach(s =>
      add(s.name, s.startMs, s.endMs, -1, -1))
    val timed = ops.filter(_.kind != "final").sortBy(_.startMs)
    val opSpan = timed.groupBy(_.cycle).toSeq.sortBy(_._1).flatMap { case (c, os) =>
      val cs = add(s"cycle.$c", os.map(_.startMs).min, os.map(_.endMs).max, -1, -1)
      os.map(o => o.id -> add(s"${o.kind}.${o.name}", o.startMs, o.endMs, cs, o.id))
    }.toMap
    def owner(start: Long, opId: Int): Int =
      if (opId >= 0) opId
      else timed.find(o => o.startMs <= start && start <= o.endMs).map(_.id).getOrElse(-1)
    (t.spans.filterNot(_.name.startsWith("setup.")) ++ t.jobSpans(timed)).foreach { s =>
      val o = owner(s.startMs, s.opId)
      add(s.name, s.startMs, s.endMs, opSpan.getOrElse(o, -1), o)
    }
    val counters = root.putObject("counters")
    t.countersView.foreach { case (k, v) => counters.put(k, v) }
    val samples = root.putObject("samples")
    t.samplesView.foreach { case (k, v) =>
      samples.putObject(k).put("n", v.length).put("mean", Stats.mean(v))
        .put("p50", if (v.isEmpty) 0.0 else Stats.median(v))
    }
    val layer = root.putObject("per_layer")
    layers.foreach { case (k, v, base) => layer.putObject(k).put("value", v).put("base", base) }
    m.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }
}
