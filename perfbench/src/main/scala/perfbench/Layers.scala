package perfbench

/** Per-layer metrics of a traced phase. Spark jobs and SQL executions are
  * child spans of the operation whose job group they carry; one without a
  * group (a job started from a helper thread) goes to the operation whose
  * interval contains its start.
  */
object Layers {
  import Main.Done

  /** Kinds whose `rows` are rows returned by a read. */
  val ReadKinds = Set("last_value", "read_range")

  private final case class Attributed(op: Done, jobs: Seq[JobRec], sqls: Seq[SqlRec]) {
    def jobSpans: Seq[Span] = jobs.map(j =>
      Span(s"job${j.jobId}", Some(op.id), "job", j.startMs.toDouble, j.endMs.toDouble))
    def driverMs: Double = Spans.selfTime(Span(op.id, None, op.kind, op.startMs, op.endMs), jobSpans)
    def totals: TaskTotals = { val t = new TaskTotals; jobs.foreach(j => t.add(j.totals)); t }
    def planningMs: Double = sqls.map(_.planningMs).sum
    def scans: Seq[ScanRec] = sqls.flatMap(_.scans).distinctBy(_.node)
  }

  private def attribute(done: Seq[Done], t: SparkTrace): Seq[Attributed] = {
    val ids = done.map(_.id).toSet
    def owner(group: Option[String], startMs: Double): Option[String] =
      group.filter(ids).orElse(
        done.find(d => d.startMs <= startMs && startMs <= d.endMs).map(_.id))
    val jobs = t.jobRecords.groupBy(j => owner(j.group, j.startMs.toDouble))
    val sqls = t.sqlRecords.groupBy(s => owner(s.group, s.startMs.toDouble))
    done.map(d => Attributed(d, jobs.getOrElse(Some(d.id), Nil), sqls.getOrElse(Some(d.id), Nil)))
  }

  /** Operation spans with their job and SQL-execution child spans. */
  def spans(done: Seq[Done], t: SparkTrace): Seq[Span] =
    attribute(done, t).flatMap { a =>
      Span(a.op.id, None, a.op.kind, a.op.startMs, a.op.endMs) +: (a.jobSpans ++
        a.sqls.map(s => Span(s"sql${s.execId}", Some(a.op.id), "sql", s.startMs.toDouble,
          s.endMs.toDouble)))
    }

  /** Every per-layer metric, for every operation kind: a kind the
    * workload does not run reports 0.
    */
  def apply(done: Seq[Done], t: SparkTrace, gcMs: Long, cpuMsPerOp: Double,
      filesPerDir: Double, peakRssMb: Double): Seq[(String, Double, String)] = {
    val at = attribute(done, t)
    val perKind = Workload.OpKinds.flatMap { kind =>
      val xs = at.filter(_.op.kind == kind)
      def med(f: Attributed => Double) = if (xs.isEmpty) 0.0 else Stats.median(xs.map(f))
      Seq(
        (s"$kind.p50_ms", med(_.op.ms), "ms"),
        (s"$kind.jobs", Stats.mean(xs.map(_.jobs.size.toDouble)), "count"),
        (s"$kind.driver_ms", med(_.driverMs), "ms"),
        (s"$kind.planning_ms", med(_.planningMs), "ms"),
        (s"$kind.exec_ms", med(_.totals.runMs.toDouble), "ms"),
        (s"$kind.task_wait_ms", med(_.totals.waitMs.toDouble), "ms"))
    }
    val saves = at.filter(_.op.kind == "save")
    val reads = at.filter(a => ReadKinds(a.op.kind))
    val readTotals = { val t = new TaskTotals; reads.foreach(r => t.add(r.totals)); t }
    val rowsReturned = reads.map(_.op.out.rows).sum.toDouble
    def counter(kind: String, name: String) =
      done.filter(_.kind == kind).map(_.out.counters.getOrElse(name, 0.0)).sum
    val batches = done.count(_.kind == "dedup_probe_winnow")
    val layer = Seq(
      ("write.files_per_save", Stats.mean(saves.map(_.op.filesAdded.toDouble)), "count"),
      ("write.bytes_per_user_byte", Stats.ratio(saves.map(_.op.bytesAdded).sum.toDouble,
        saves.map(_.op.out.counters.getOrElse("user_bytes", 0.0)).sum), "ratio"),
      ("compact.bytes_rewritten_per_user_byte",
        Stats.ratio(counter("compact", "bytes_rewritten"), counter("save", "user_bytes")), "ratio"),
      ("store.files_per_partition_dir", filesPerDir, "count"),
      ("scan.bytes_per_row_returned", Stats.ratio(readTotals.bytesRead.toDouble, rowsReturned),
        "B/row"),
      ("scan.files_per_op", Stats.mean(reads.map(_.scans.map(_.files).sum.toDouble)), "count"),
      ("scan.rows_returned_per_row_read",
        Stats.ratio(rowsReturned, reads.flatMap(_.scans).map(_.rows).sum.toDouble), "ratio"),
      ("shuffle.bytes_per_row_returned",
        Stats.ratio(readTotals.shuffleWriteBytes.toDouble, rowsReturned), "B/row"),
      ("shuffle.spill_bytes", at.map(_.totals.spillBytes).sum.toDouble, "B"),
      ("dedup.pairs_per_batch",
        Stats.ratio(counter("dedup_probe_winnow", "pairs"), batches.toDouble), "count"),
      ("jvm.gc_ms", gcMs.toDouble, "ms"),
      ("jvm.cpu_ms_per_op", cpuMsPerOp, "ms"),
      ("jvm.peak_rss_mb", peakRssMb, "MB"))
    perKind ++ layer
  }
}
