package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** The build-once temp-parquet table that every shared intermediate in
  * the engine rides on (gram tables, pair graph, CC labels, co-purchase
  * edges, tf-idf vectors, trained models): keyed by the input plan and
  * the input files, file-stats-backed reads, the concurrent-build
  * no-leak contract, the build and first-read ledgers, and the
  * one-build-per-intermediate sharing across the n-gram dedup queries. */
class TempTablesSpec extends SparkSpecBase {

  /** The dir TempTables builds under: the first configured Spark local
    * dir (`SPARK_LOCAL_DIRS`, else `spark.local.dir`), else
    * java.io.tmpdir. */
  private def tableRoot: Path = Paths.get(sys.env.get("SPARK_LOCAL_DIRS")
    .orElse(spark.sparkContext.getConf.getOption("spark.local.dir"))
    .flatMap(_.split(",").map(_.trim).find(_.nonEmpty))
    .getOrElse(System.getProperty("java.io.tmpdir")))

  private def tmpDirs(prefix: String): Set[String] = {
    val s = Files.list(tableRoot)
    try {
      val b = Set.newBuilder[String]
      s.forEach(p => if (p.getFileName.toString.startsWith(prefix)) b += p.toString)
      b.result()
    } finally s.close()
  }

  /** Builds per ledger name that `body` added. */
  private def buildsDuring(body: => Unit): Map[String, Long] = {
    val before = TempTables.buildCosts
    body
    TempTables.buildCosts.collect {
      case (k, (_, _, n)) if n != before.get(k).map(_._3).getOrElse(0L) =>
        k -> (n - before.get(k).map(_._3).getOrElse(0L))
    }
  }

  test("cached: builds once per (session, key); reads are parquet-backed with real stats") {
    val builds = new AtomicInteger(0)
    // two separately constructed DataFrames with the same plan are one key
    def get(): DataFrame = {
      val key = spark.range(100).toDF("id").withColumn("v", col("id") * 2)
      TempTables.shared("tts_spec_build_once", key) { builds.incrementAndGet(); key }
    }
    val a = get(); val b = get()
    assert(builds.get() == 1, "second call must reuse the written table")
    assert(rows(a.orderBy("id")) == rows(b.orderBy("id")))
    assert(a.count() == 100)
    // a different plan is a different table
    TempTables.shared("tts_spec_build_once",
      spark.range(100).toDF("id").withColumn("v", col("id") * 3)) {
      builds.incrementAndGet(); spark.range(1).toDF("id")
    }
    assert(builds.get() == 2, "a different input plan must build its own table")
    // the whole point vs localCheckpoint: the relation reports its
    // FILE size, not defaultSizeInBytes and not an estimate over the
    // origin plan — downstream joins can broadcast it
    val size = a.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > 0 && size < spark.sessionState.conf.defaultSizeInBytes)
    assert(a.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.nodeName != "LogicalRDD"))
  }

  test("cached: concurrent first calls converge to one dir, losers deleted (no leak)") {
    val before = tmpDirs("graft_tt_")
    val builds = new AtomicInteger(0)
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        val key = spark.range(10).toDF("race_id")
        TempTables.shared("tts_spec_race", key) {
          builds.incrementAndGet()
          Thread.sleep(50) // widen the race window
          key
        }.count()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val after = tmpDirs("graft_tt_")
    // racing builders may each run (build is outside any lock), but
    // exactly one dir survives as the shared entry; every loser's copy
    // is deleted on the spot rather than leaking until shutdown
    assert(builds.get() >= 1)
    assert((after -- before).size == 1,
      s"expected exactly one surviving dir, got ${(after -- before).size}")
  }

  test("shared: a fresh table's files lie under the first Spark local dir") {
    val t = TempTables.shared("tts_spec_local_dir", spark.range(7).toDF("local_id"))()
    val files = t.inputFiles.toSeq.map(f => Paths.get(new java.net.URI(f)))
    val root = tableRoot.toAbsolutePath.normalize
    assert(files.nonEmpty)
    assert(files.forall(f => f.startsWith(root) &&
      root.relativize(f).getName(0).toString.startsWith("graft_tt_")),
      s"table files $files are not in a graft_tt_ dir under $root")
  }

  test("shared: an input rewritten in place under a live session rebuilds") {
    val dir = Files.createTempDirectory("tts_rewrite").toString
    spark.range(10).toDF("id").write.mode("overwrite").parquet(dir)
    def derived(): DataFrame = spark.read.parquet(dir).select((col("id") * 2).as("v"))
    val first = derived()
    val builds = buildsDuring {
      assert(TempTables.shared("tts_rewrite", first)().count() == 10)
      spark.range(20).toDF("id").write.mode("overwrite").parquet(dir)
      // the plans alone cannot tell the two reads apart: a file index
      // compares by root path
      val second = derived()
      assert(first.queryExecution.analyzed.sameResult(second.queryExecution.analyzed))
      assert(TempTables.shared("tts_rewrite", second)().count() == 20,
        "a table derived from the old files was served after the rewrite")
      // the unchanged input is a hit
      assert(TempTables.shared("tts_rewrite", derived())().count() == 20)
    }
    assert(builds == Map("tts_rewrite" -> 2L))
  }

  test("shared: a fresh build's first read declares the built schema and runs no job") {
    val key = spark.range(20).toDF("id")
      .select(col("id"), (col("id") * 1.5).as("x"), col("id").cast("decimal(12,2)").as("dec"),
              lit("2020-01-01 00:00:00").cast("timestamp_ntz").as("ts"),
              array(col("id"), col("id") + 1).as("arr"),
              struct(col("id").cast("string").as("s")).as("st"))
    val plainWrite = jobsDuring(spark) {
      key.write.mode("overwrite").parquet(Files.createTempDirectory("tts_plain").toString)
    }
    var read: DataFrame = null
    val buildAndRead = jobsDuring(spark) {
      assert(buildsDuring { read = TempTables.shared("tts_declared_schema", key)() } ==
        Map("tts_declared_schema" -> 1L))
    }
    assert(buildAndRead == plainWrite,
      s"the build writes in $plainWrite jobs; its read must add none, got $buildAndRead")
    val path = Paths.get(read.inputFiles.head).getParent.toString
    assert(read.schema == spark.read.parquet(path).schema)
    assert(rows(read.orderBy("id")) == rows(key.orderBy("id")))
  }

  test("build ledger records SELF time: nested child builds subtract from the parent") {
    // a parent build that first-touches a child table runs the child
    // inside its own timer; the ledger must charge the child's wall to
    // the child row ONLY, so rows add up across a run. The child sleeps
    // measurably; the parent's self row must not include it.
    def childBuild() = {
      val key = spark.range(10).toDF("child_id")
      TempTables.shared("tts_ledger_child", key) { Thread.sleep(600); key }
    }
    val parentKey = spark.range(10).toDF("parent_id")
    TempTables.shared("tts_ledger_parent", parentKey) {
      childBuild().withColumn("v", col("child_id") + 1)
    }
    val costs = TempTables.buildCosts
    val (childSelf, _, childN) = costs("tts_ledger_child")
    val (parentSelf, _, parentN) = costs("tts_ledger_parent")
    assert(childN == 1 && parentN == 1)
    assert(childSelf >= 0.6, s"child must carry its own sleep, got $childSelf")
    assert(parentSelf < childSelf,
      s"parent self time ($parentSelf) must exclude the child's 0.6 s sleep ($childSelf)")
  }

  test("first-read ledger: first access AFTER the building call records a row") {
    val name = "tts_read_ledger"
    val key = spark.range(50).toDF("read_id")
    TempTables.shared(name, key)()
    assert(!TempTables.firstReadCosts.contains(name),
      "the builder's own call must not record a read row")
    TempTables.shared(name, key)(sys.error("must not rebuild"))
    val (sec, bytes) = TempTables.firstReadCosts(name)
    assert(sec >= 0.0 && bytes > 0,
      s"first post-build access must stream and record the files, got ($sec, $bytes)")
    // idempotent: later calls don't re-stream (one row per table)
    TempTables.shared(name, key)(sys.error("must not rebuild"))
    assert(TempTables.firstReadCosts(name) == ((sec, bytes)))
  }

  test("shared: the n-gram dedup queries build each gram intermediate once per session") {
    val s: SparkSession = spark.newSession()
    val qs = Seq("q_dedup_ngram", "q_dedup_ngram_capped", "q_jaccard_prefix",
                 "q_dedup_contain", "q_gramdf_merge")
    var ngram = Map.empty[String, Long]
    val builds = buildsDuring {
      ngram = buildsDuring(SparkEntry.queries("q_dedup_ngram")(s, sf).count())
      // twice: a second pass over the same input must be all hits
      for (_ <- 1 to 2; q <- qs) SparkEntry.queries(q)(s, sf).count()
    }
    assert(ngram == Map("doc_gram_arrays" -> 1L, "gram_doc_freq" -> 1L,
      "rarity_gram_arrays" -> 1L, "ngram_pairs" -> 1L),
      s"q_dedup_ngram alone must make exactly its 4 builds, got $ngram")
    assert(builds == Map("doc_gram_arrays" -> 1L, "gram_doc_freq" -> 1L,
      "rarity_gram_arrays" -> 1L, "capped_gram_sizes" -> 1L, "ngram_pairs" -> 1L),
      s"each shared intermediate must build exactly once, got $builds")
  }

  test("shared: two direct jaccardJoinPrefix calls over separate reads share one build") {
    val s: SparkSession = spark.newSession()
    def pairs() = Graft.jaccardJoinPrefix(Tables.documents(s, sf), col("doc_id"), col("text"),
      thresholdPermille = 700)
    var first: Seq[Seq[Any]] = Nil
    val builds = buildsDuring {
      first = rows(pairs().orderBy("doc_a", "doc_b"))
      assert(rows(pairs().orderBy("doc_a", "doc_b")) == first)
    }
    assert(first.nonEmpty)
    assert(builds == Map("doc_gram_arrays" -> 1L, "gram_doc_freq" -> 1L,
      "rarity_gram_arrays" -> 1L), s"got $builds")
  }
}
