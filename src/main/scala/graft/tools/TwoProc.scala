package graft.tools

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Two-PROCESS concurrency/durability bake (round 17): rounds 15–16
  * built real cross-process machinery — the per-index DDL file lock
  * with TTL reclaim, the PgPartitions registry lease, the
  * restart-durable registration sweep, the (gen,seq)-fingerprinted
  * tombstone cache — but every spec exercised it through in-JVM resets.
  * This tool forks a genuine second driver JVM against the SAME catalog
  * root and segment stores, turning the design comments into evidence:
  *
  *   1. `ddl`   — both drivers storm ensure/alter/drop on ONE index
  *                name (the hooks.rs:60-106 serialization contract):
  *                no torn manifest, no unexpected error, consistent
  *                final state.
  *   2. `parts` — concurrent PgPartitions child registration under the
  *                file lease (no lost update), then a cross-process
  *                DROP that must survive this driver's next register
  *                (round-17 authoritative-file sync).
  *   3. `sweep` — a CREATE'd recipe re-registers in a FRESH process via
  *                the restart sweep (the crash/restore.slt machinery,
  *                across real process boundaries).
  *   4. `vacuum`— a child searches in a loop while the parent runs ONE
  *                SQL VACUUM (REINDEX generation swap): every search
  *                answers correctly, zero failures (the CONCURRENTLY
  *                property cross-process).
  *   5. `tomb`  — the child caches a tombstone snapshot, the PARENT
  *                deletes a row, the child must see the delete on its
  *                next search (the (gen,seq) VERSION fingerprint, never
  *                mtime/in-JVM events).
  *
  * Appends a "Two-process bake" section to SOAK.md. Run:
  * `SPARK_GRAFT_CPUS=8 sbt "runMain graft.tools.TwoProc"`.
  */
object TwoProc {
  private[tools] val AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private[tools] def session(root: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.index.root", root)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.registerAll(s)
    s
  }

  /** The shared DDL-storm loop both processes run: forced rebuilds
    * (per-iteration `requires` tag), alters, periodic drops. "no such
    * index" on alter is a LEGITIMATE interleaving (the peer's drop won
    * the lock) — anything else counts as a failure. */
  private[tools] def ddlStorm(spark: SparkSession, name: String,
      source: String, tag: String, iters: Int): Int = {
    import graft.index.IndexCatalog
    var failures = 0
    for (i <- 1 to iters) {
      try {
        IndexCatalog.ensure(spark, name, source, "flat",
          requires = Map("tag" -> s"$tag-$i")) { dataDir =>
          spark.range(50).toDF("id")
            .write.mode("overwrite").parquet(dataDir)
          IndexCatalog.Manifest("flat", source, "l2",
            Map("tag" -> s"$tag-$i"))
        }
        IndexCatalog.alter(spark, name, "rerank_window",
          ((i % 9) + 1).toString)
        if (i % 3 == 0) IndexCatalog.drop(spark, name)
      } catch {
        case e: IllegalArgumentException
            if e.getMessage != null &&
              e.getMessage.startsWith("no such index") => ()
        case e: Throwable =>
          failures += 1
          System.err.println(s"[twoproc:$tag] iter $i: $e")
      }
    }
    failures
  }

  private def forkChild(root: String, phase: String,
      extra: Seq[String]): (Process, File) = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val log = new File(root, s"child_$phase.log")
    val cmd = (Seq(javaBin) ++ AddOpens ++ Seq(
      "-Xmx6g", "-Dspark.ui.enabled=false",
      "-cp", cp, "graft.tools.TwoProcChild", phase, root) ++ extra)
    val pb = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(log)
    (pb.start(), log)
  }

  private def await(p: Process, log: File, what: String,
      timeoutSec: Int = 600): Unit = {
    if (!p.waitFor(timeoutSec.toLong, java.util.concurrent.TimeUnit.SECONDS)) {
      p.destroyForcibly()
      throw new IllegalStateException(s"$what timed out; log: $log")
    }
    if (p.exitValue() != 0) {
      val tail = scala.util.Try(
        java.nio.file.Files.readString(log.toPath).takeRight(4000))
        .getOrElse("<unreadable>")
      throw new IllegalStateException(
        s"$what exited ${p.exitValue()}; log tail:\n$tail")
    }
  }

  private def waitMarker(f: File, timeoutSec: Int = 120): Unit = {
    val t0 = System.currentTimeMillis()
    while (!f.isFile) {
      if (System.currentTimeMillis() - t0 > timeoutSec * 1000L)
        throw new IllegalStateException(s"marker $f never appeared")
      Thread.sleep(50)
    }
  }

  def main(args: Array[String]): Unit = {
    val root = sys.props("java.io.tmpdir") + "/graft_twoproc_root"
    def rm(f: File): Unit = { if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete() }
    rm(new File(root)); new File(root).mkdirs()
    val spark = session(root)
    import graft.index.{IndexCatalog, PgPartitions, SqlDdl}

    // shared 10k-row 16-dim source (deterministic hash features)
    val source = s"$root/source.parquet"
    spark.range(10000).select(col("id").as("vec_id"),
      org.apache.spark.sql.functions.array((0 until 16).map(j =>
        (pmod(xxhash64(col("id") * 31 + j), lit(1000)) / lit(1000.0))
          .cast("float")): _*)
        .as("embedding"))
      .write.mode("overwrite").parquet(source)
    val q0 = spark.read.parquet(source).filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray

    def wall(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val results = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // ---- 1. DDL-lock storm ----
    locally {
      val name = "twoproc_ddl"
      val (child, log) = forkChild(root, "ddl", Seq(source))
      val myFailures = ddlStorm(spark, name, source, "parent", 12)
      await(child, log, "ddl child")
      val t = wall {
        IndexCatalog.ensure(spark, name, source, "flat",
          requires = Map("tag" -> "final")) { dataDir =>
          spark.range(50).toDF("id")
            .write.mode("overwrite").parquet(dataDir)
          IndexCatalog.Manifest("flat", source, "l2", Map("tag" -> "final"))
        }
      }
      val m = IndexCatalog.load(spark, name).getOrElse(
        throw new IllegalStateException("ddl: no final manifest"))
      require(m.params.get("tag").contains("final") && m.source == source,
        s"ddl: torn final manifest: ${m.params}")
      val rows = spark.read.parquet(IndexCatalog.dataDir(spark, name)).count()
      require(rows == 50L, s"ddl: artifact rows $rows != 50")
      require(myFailures == 0, s"ddl: $myFailures parent-side failures")
      results += "ddl storm (12 ensure/alter/drop iters × 2 procs)" ->
        f"PASS — 0 failures, consistent final manifest (final ensure ${t}%.1f s)"
      println(s"[twoproc] ddl: PASS")
    }

    // ---- 2. PgPartitions lease: concurrent registers + cross drop ----
    locally {
      // children register via the API directly — the registry never
      // touches the table catalog, so no parent table is needed
      val (child, log) = forkChild(root, "parts1", Seq.empty)
      (0 until 15).foreach { i =>
        PgPartitions.register(spark, s"tp_p_$i",
          PgPartitions.Child("twoproc_parent", "cat", Seq(i.toString)))
        Thread.sleep(5)
      }
      await(child, log, "parts1 child")
      // every registration from BOTH processes survives in the file
      PgPartitions.resetNamesForTest(spark,
        (0 until 15).flatMap(i => Seq(s"tp_p_$i", s"tp_c_$i")).toSet)
      val missing = (0 until 15).flatMap { i =>
        Seq(s"tp_p_$i", s"tp_c_$i").filter(n =>
          PgPartitions.resolve(spark, n).isEmpty)
      }
      require(missing.isEmpty, s"parts: lost registrations: $missing")
      // load the child's names into OUR memory (the resurrect
      // precondition), let the CHILD process drop them, then register —
      // the drops must survive our persist
      (0 until 15).foreach(i => PgPartitions.resolve(spark, s"tp_c_$i"))
      val (child2, log2) = forkChild(root, "parts2", Seq.empty)
      await(child2, log2, "parts2 child")
      PgPartitions.register(spark, "tp_p_extra",
        PgPartitions.Child("twoproc_parent", "cat", Seq("99")))
      PgPartitions.resetNamesForTest(spark,
        (0 until 15).map(i => s"tp_c_$i").toSet + "tp_p_extra")
      val resurrected = (0 until 15)
        .filter(i => PgPartitions.resolve(spark, s"tp_c_$i").isDefined)
      require(resurrected.isEmpty,
        s"parts: cross-process drops resurrected: $resurrected")
      require(PgPartitions.resolve(spark, "tp_p_extra").isDefined)
      results += "PgPartitions lease (15+15 concurrent registers, 15 cross drops)" ->
        "PASS — 0 lost updates, 0 resurrected drops"
      println(s"[twoproc] parts: PASS")
    }

    // ---- 3. restart sweep across a real process boundary ----
    locally {
      val name = "twoproc_sweep"
      val res = spark.sql(
        s"""SELECT create_vector_index('$name', '$source', 'vec_id',
              'embedding', 'hnsw', 'vector_l2_ops', 'm=8,ef_construction=80')"""
        ).head().getString(0)
      require(res == "ok", s"sweep: create returned $res")
      val (child, log) = forkChild(root, "sweep", Seq(source))
      await(child, log, "sweep child")
      results += "restart registration sweep (fresh JVM serves the CREATE'd claim)" ->
        "PASS — child re-registered + exact top-1 agreed"
      println(s"[twoproc] sweep: PASS")
    }

    // ---- 4. search loop racing one VACUUM (REINDEX swap) ----
    locally {
      val name = "twoproc_sweep" // the recipe-complete index from (3)
      val (child, log) = forkChild(root, "search", Seq(name))
      Thread.sleep(1500)
      val t = wall {
        require(spark.sql(s"SELECT vacuum_vector_index('$name')")
          .head().getString(0) == "ok")
      }
      await(child, log, "search child")
      val dd = IndexCatalog.dataDir(spark, name)
      require(dd.contains("data-r"),
        s"vacuum must have swapped to a fresh generation: $dd")
      results += "40-search loop racing one VACUUM generation swap" ->
        f"PASS — 0 failed searches, all top-1 correct (vacuum ${t}%.1f s)"
      println(s"[twoproc] vacuum: PASS")
    }

    // ---- 5. cross-process tombstone freshness ----
    locally {
      import graft.operators.{IncrHnsw, Segments}
      val segDir = s"$root/tombstore"
      val name = "twoproc_tomb"
      Segments.init(spark, segDir,
        spark.read.parquet(source).filter(col("vec_id") < 2000)
          .select(col("vec_id"), col("embedding")), "vec_id")
      IncrHnsw.ensure(spark, name, segDir, "vec_id", "embedding",
        efConstruction = 80)
      val (child, log) = forkChild(root, "tomb", Seq(segDir, name))
      waitMarker(new File(root, "tomb_child_ready"))
      Segments.delete(spark, segDir,
        spark.range(1).select(lit(7L).as("vec_id")), "vec_id")
      new File(root, "tomb_parent_deleted").createNewFile()
      await(child, log, "tomb child")
      results += "cross-process delete visible to a warm peer (tombstone cache)" ->
        "PASS — peer's next search dropped the deleted row"
      println(s"[twoproc] tomb: PASS")
    }

    // ---- SOAK.md appendix ----
    val table = new StringBuilder
    table ++= "\n## Two-process bake (round 17, one-off direct measurement)\n\n"
    table ++= "Two driver JVMs against ONE catalog root + shared segment\n"
    table ++= "stores — the cross-process machinery (DDL file lock,\n"
    table ++= "PgPartitions lease, restart sweep, VERSION-fingerprinted\n"
    table ++= "tombstone cache) exercised across a real process boundary\n"
    table ++= "instead of in-JVM resets.\n\n| scenario | result |\n|---|---|\n"
    results.foreach { case (k, v) => table ++= s"| $k | $v |\n" }
    val soak = java.nio.file.Paths.get("SOAK.md")
    if (java.nio.file.Files.exists(soak)) {
      val cur = java.nio.file.Files.readString(soak)
      val cut = cur.indexOf("\n## Two-process bake")
      val base = if (cut >= 0) {
        val rest = cur.substring(cut + 1)
        val nxt = rest.indexOf("\n## ")
        cur.substring(0, cut) + (if (nxt >= 0) rest.substring(nxt) else "")
      } else cur
      java.nio.file.Files.writeString(soak, base + table)
      println("[twoproc] SOAK.md appendix updated")
    }
    spark.stop()
  }
}

/** The forked second driver (see [[TwoProc]]); exits nonzero on any
  * assertion failure so the parent's await() surfaces it. */
object TwoProcChild {
  def main(args: Array[String]): Unit = {
    val phase = args(0); val root = args(1)
    val spark = TwoProc.session(root)
    import graft.index.{IndexCatalog, PgPartitions}
    try {
      phase match {
        case "ddl" =>
          val source = args(2)
          val failures = TwoProc.ddlStorm(spark, "twoproc_ddl", source,
            "child", 12)
          require(failures == 0, s"child ddl failures: $failures")

        case "parts1" =>
          (0 until 15).foreach { i =>
            PgPartitions.register(spark, s"tp_c_$i",
              PgPartitions.Child("twoproc_parent", "cat", Seq(i.toString)))
            Thread.sleep(5)
          }

        case "parts2" =>
          (0 until 15).foreach(i => PgPartitions.drop(spark, s"tp_c_$i"))

        case "sweep" =>
          val source = args(2)
          // a fresh JVM = the restart; the first ann-enabled optimizer
          // pass sweeps recipe-complete manifests back into planner
          // registrations
          spark.conf.set("spark.graft.ann.enabled", "true")
          spark.range(1).count()
          val regs = graft.plans.AnnPushdown.snapshot(source)
          require(regs.nonEmpty,
            "restart sweep did not re-register the CREATE'd claim")
          // and the artifact actually serves: exact top-1 is the query row
          val q = spark.read.parquet(source).filter(col("vec_id") === 0)
            .select("embedding").head().getSeq[Float](0).toArray
          val top = graft.operators.Hnsw.searchIndex(spark,
            IndexCatalog.dataDir(spark, "twoproc_sweep"), "vec_id", q,
            k = 5, exact = true).collect()
          require(top.nonEmpty && top.head.getLong(0) == 0L,
            s"sweep: wrong top-1: ${top.mkString(",")}")

        case "search" =>
          val name = args(2)
          val q = spark.read.parquet(s"$root/source.parquet")
            .filter(col("vec_id") === 0)
            .select("embedding").head().getSeq[Float](0).toArray
          var failures = 0
          (1 to 40).foreach { i =>
            try {
              val rows = graft.operators.Hnsw.searchIndex(spark,
                IndexCatalog.dataDir(spark, name), "vec_id", q,
                k = 10, exact = true).collect()
              require(rows.length == 10 && rows.head.getLong(0) == 0L,
                s"iter $i: got ${rows.length} rows, " +
                  s"top ${rows.headOption.map(_.getLong(0))}")
            } catch {
              case e: Throwable =>
                failures += 1
                System.err.println(s"[twoproc-child] search $i: $e")
            }
            Thread.sleep(50)
          }
          require(failures == 0, s"search failures under vacuum: $failures")

        case "tomb" =>
          val segDir = args(2); val name = args(3)
          import graft.operators.IncrHnsw
          val q7 = spark.read.parquet(s"$root/source.parquet")
            .filter(col("vec_id") === 7)
            .select("embedding").head().getSeq[Float](0).toArray
          def ids(): Seq[Long] = IncrHnsw.search(spark, name, segDir,
            "vec_id", q7, 5).collect().map(_.getLong(0)).toSeq
          val before = ids()
          require(before.headOption.contains(7L),
            s"tomb: expected 7 top-1 pre-delete, got $before")
          new java.io.File(root, "tomb_child_ready").createNewFile()
          val deadline = System.currentTimeMillis() + 120000L
          while (!new java.io.File(root, "tomb_parent_deleted").isFile) {
            require(System.currentTimeMillis() < deadline,
              "tomb: parent never deleted")
            Thread.sleep(50)
          }
          val after = ids()
          require(!after.contains(7L),
            s"tomb: the peer's delete must be visible, got $after")

        case other =>
          throw new IllegalArgumentException(s"unknown phase $other")
      }
      println(s"[twoproc-child] $phase ok")
      spark.stop()
      sys.exit(0)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
    }
  }
}
