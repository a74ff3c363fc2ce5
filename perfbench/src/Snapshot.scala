package perfbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import graft.SparkEntry
import graft.engine.Mv

/** `snapshot_analytics`: one caller making warm passes over eight batch
  * queries, each checked against its DuckDB oracle rows. The cold pass
  * (the same for every seed) is set-up; each measured pass visits the
  * queries in a seed-set order, at least `min_passes` times and until
  * `--seconds` have passed. */
object Snapshot {
  val Queries = Seq(
    "q_graph_pagerank", "q_graph_ppr_w", "q_graph_hits", "q_text_textrank", // power iteration
    "q_gnn_layer_k", "q_gnn_layer2", // GNN exchange
    "q_graph_scc_colors", // Par.run legs + Ckpt
    "q_embed_outliers")

  def run(c: Ctx): Unit = {
    val s = c.spark
    val want = Queries.map(q => q -> Check.load(s"${c.expectedDir}/$q.tsv")).toMap
    val calls = mutable.ArrayBuffer.empty[Any]
    var attempted, failed = 0L

    def call(q: String, pass: Int): Unit = {
      val g = s"perfbench-$pass-$q"
      val ck0 = Tracer.persisted(s)
      val cg0 = Tracer.codegenMs()
      val plan0 = c.tracer.map(_.plannedMs).getOrElse(0L)
      s.sparkContext.setJobGroup(g, g)
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      // the timed action materialises exactly the rows that are checked
      val res = Try { val df = SparkEntry.queries(q)(s, c.dataDir); (df.schema, df.collect()) }
      val secs = (System.nanoTime() - t0) / 1e9
      val t1ms = System.currentTimeMillis()
      s.sparkContext.clearJobGroup()
      val err = res match {
        case Success((schema, rows)) => Check.diff(Check.render(schema, rows), want(q))
        case Failure(e) => Some(s"threw $e")
      }
      synchronized {
        attempted += 1
        if (err.nonEmpty) failed += 1
      }
      err.foreach(e => System.err.println(s"perfbench: $q pass $pass: $e"))
      val rec = mutable.LinkedHashMap[String, Any]("q" -> q, "pass" -> pass, "s" -> secs,
        "ok" -> err.isEmpty)
      c.tracer.foreach { t =>
        t.drain()
        val a = t.take(g)
        rec ++= Seq("t0_ms" -> t0ms, "t1_ms" -> t1ms, "jobs" -> a.jobs.toSeq, "tasks" -> a.tasks,
          "task_ms" -> a.taskMs, "shuffle_bytes" -> a.shuffleBytes, "spill_bytes" -> a.spillBytes,
          "plan_ms" -> (t.plannedMs - plan0), "codegen_ms" -> (Tracer.codegenMs() - cg0),
          "ckpts" -> (Tracer.persisted(s) -- ck0).size)
      }
      synchronized(calls += rec)
    }

    // The cold pass is set-up: it builds the MVs and compiles the code of
    // every query. Two callers overlap its driver-side compile work; the
    // timed passes have one caller.
    Queries.grouped((Queries.size + 1) / 2).toSeq.map { part =>
      val t = new Thread(() => part.foreach(call(_, 0)))
      t.start()
      t
    }.foreach(_.join())
    val rnd = new scala.util.Random(c.seed)
    c.firstOp()
    val t0 = System.nanoTime()
    var pass = 1
    while (pass <= c.num("min_passes") || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      rnd.shuffle(Queries).foreach(call(_, pass))
      pass += 1
    }
    val (nMv, _, mem, disk) = Mv.census(s)
    c.report ++= Seq("calls" -> calls.toSeq, "mv_n" -> nMv, "cached_bytes" -> (mem + disk),
      "attempted" -> attempted, "failed" -> failed)
  }
}
