package graft.perfbench

import java.io.{File, PrintWriter}

/** The traced run's outputs: `spans.jsonl`, one line per span, and
  * `span_table.txt`, one row per span name with the median over its
  * measured calls of self time and every counter. */
object SpanFiles {
  private val Counters = Seq("s", "self_s", "jobs", "tasks", "job_s", "driver_gap_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s", "executor_run_s",
    "empty_task_ratio", "meta_reads", "bytes_written", "files_written")

  def write(out: File, spans: Seq[(Span, Map[String, Double])], tracer: Tracer): Unit = {
    val w = new PrintWriter(new File(out, "spans.jsonl"), "UTF-8")
    try spans.foreach { case (s, c) =>
      w.println(Json.render(Map("run_id" -> s.runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "measured" -> tracer.isMeasured(s), "counters" -> c)))
    } finally w.close()

    val t = new PrintWriter(new File(out, "span_table.txt"), "UTF-8")
    try {
      t.println("median over the measured calls of each span; counters include nested spans")
      t.println(("span" +: "calls" +: Counters).mkString("\t"))
      val measured = spans.filter(s => tracer.isMeasured(s._1)).groupBy(_._1.name)
      for ((name, calls) <- measured.toSeq.sortBy(_._1)) {
        val cells = Counters.map(c => fmt(Stats.quantile(calls.map(_._2(c)), 0.5)))
        t.println((name +: calls.size.toString +: cells).mkString("\t"))
      }
      // per-call series, set-up calls included, of the counters a chain of
      // commits can grow
      for ((name, calls) <- spans.groupBy(_._1.name).toSeq.sortBy(_._1) if calls.size >= 3;
           c <- Seq("meta_reads", "files_written", "jobs")) {
        val xs = calls.sortBy(_._1.id).map(_._2(c).toLong)
        t.println(s"series $name.$c first=${xs.take(5).mkString(",")} " +
          s"last=${xs.takeRight(5).mkString(",")} min=${xs.min} max=${xs.max}")
      }
    } finally t.close()
  }

  private def fmt(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else f"$d%.4f"
}
