package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.etl.{JsonEtl, StateKind}
import graft.streaming.Streams
import java.nio.file.{Files, Paths}

/** One loop over the state-kind registry: every kind, plain and windowed,
  * must reach the same state through each derived form, fence replays and
  * mismatched parameters, and write the `_state_meta` stamp and state
  * schema that states already on disk carry.
  */
class StateKindSpec extends SparkSpec {

  /** Per registry name: the foldConfig block (stamp names), one parameter
    * a later fold gets wrong, and the on-disk stamp text and state schema
    * (name:type:nullable) earlier releases write for that block.
    */
  private case class Case(params: Map[String, String],
      mismatch: (String, String), meta: String, schema: String)

  private val cases: Map[String, Case] = Map(
    "agg" -> Case(Map("keys" -> "user_id,event_type", "value_col" -> "value"),
      "value_col" -> "k",
      "keys=user_id,event_type\nkind=agg\nvalue_col=value",
      "user_id:bigint:true,event_type:string:true,n_events:bigint:true," +
        "sum_value:decimal(28,2):true,min_value:double:true," +
        "max_value:double:true"),
    "agg_n" -> Case(Map("keys" -> "event_type", "value_cols" -> "value,k"),
      "value_cols" -> "value",
      "keys=event_type\nkind=agg_n\nvalue_cols=value,k",
      "event_type:string:true,n_events:bigint:true," +
        "sum_value:decimal(28,2):true,sumsq_value:decimal(38,4):true," +
        "min_value:double:true,max_value:double:true," +
        "sum_k:decimal(28,2):true,sumsq_k:decimal(38,4):true," +
        "min_k:bigint:true,max_k:bigint:true"),
    "agg_windowed" -> Case(Map("keys" -> "event_type",
        "value_cols" -> "value", "retain_days" -> "14"),
      "retain_days" -> "30",
      "day_col=day\nkeys=event_type\nkind=agg_windowed\nretain_days=14\n" +
        "value_cols=value",
      "event_type:string:true,day:bigint:true,n_events:bigint:true," +
        "sum_value:decimal(28,2):true,sumsq_value:decimal(38,4):true," +
        "min_value:double:true,max_value:double:true"),
    "ewma" -> Case(Map("keys" -> "user_id", "order_col" -> "event_id",
        "value_col" -> "value", "alpha" -> "0.5"),
      "alpha" -> "0.25",
      "alpha=0.5\nkeys=user_id\nkind=ewma\norder_col=event_id\n" +
        "value_col=value",
      "user_id:bigint:true,last_event_id:bigint:true,ewma:double:true"),
    "distinct" -> Case(Map("keys" -> "event_type", "value_col" -> "user_id",
        "lgk" -> "12"),
      "lgk" -> "11",
      "keys=event_type\nkind=distinct\nlgk=12\nvalue_col=user_id",
      "event_type:string:true,sketch:binary:true"),
    "distinct_windowed" -> Case(Map("keys" -> "event_type",
        "value_col" -> "user_id", "retain_days" -> "14"),
      "retain_days" -> "30",
      "day_col=day\nkeys=event_type\nkind=distinct_windowed\nlgk=12\n" +
        "retain_days=14\nvalue_col=user_id",
      "event_type:string:true,day:bigint:true,sketch:binary:true"),
    "quantile" -> Case(Map("key" -> "event_type", "value_col" -> "value"),
      "k" -> "100",
      "k=200\nkey=event_type\nkind=quantile\nvalue_col=value",
      "event_type:string:true,sketch:binary:true,n_rows:bigint:true"),
    "quantile_windowed" -> Case(Map("key" -> "event_type",
        "value_col" -> "value", "retain_days" -> "14"),
      "retain_days" -> "30",
      "day_col=day\nk=200\nkey=event_type\nkind=quantile_windowed\n" +
        "retain_days=14\nvalue_col=value",
      "event_type:string:true,day:bigint:true,sketch:binary:true," +
        "n_rows:bigint:true"),
    "audience" -> Case(Map("key" -> "event_type", "value_col" -> "user_id"),
      "lgk" -> "11",
      "key=event_type\nkind=audience\nlgk=12\nvalue_col=user_id",
      "event_type:string:true,sketch:binary:true"),
    "audience_windowed" -> Case(Map("key" -> "event_type",
        "value_col" -> "user_id", "retain_days" -> "14"),
      "retain_days" -> "30",
      "day_col=day\nkey=event_type\nkind=audience_windowed\nlgk=12\n" +
        "retain_days=14\nvalue_col=user_id",
      "event_type:string:true,day:bigint:true,sketch:binary:true"),
    "freq" -> Case(Map("key" -> "event_type", "item_col" -> "user_id"),
      "max_map_size" -> "64",
      "item_col=user_id\nkey=event_type\nkind=freq\nmax_map_size=1024",
      "event_type:string:true,sketch:binary:true"),
    "freq_windowed" -> Case(Map("key" -> "event_type",
        "item_col" -> "user_id", "retain_days" -> "14"),
      "retain_days" -> "30",
      "day_col=day\nitem_col=user_id\nkey=event_type\nkind=freq_windowed\n" +
        "max_map_size=1024\nretain_days=14",
      "event_type:string:true,day:bigint:true,sketch:binary:true"),
    "sample" -> Case(Map("keys" -> "event_type", "value_col" -> "user_id",
        "k" -> "8"),
      "seed" -> "bk1",
      "k=8\nkeys=event_type\nkind=sample\nseed=bk0\nvalue_col=user_id",
      "event_type:string:true,rank:bigint:true,h:string:true," +
        "value:string:true"),
    "sample_windowed" -> Case(Map("keys" -> "event_type",
        "value_col" -> "user_id", "k" -> "8", "retain_days" -> "14"),
      "retain_days" -> "30",
      "day_col=day\nk=8\nkeys=event_type\nkind=sample_windowed\n" +
        "retain_days=14\nseed=bk0\nvalue_col=user_id",
      "event_type:string:true,day:bigint:true,rank:bigint:true," +
        "h:string:true,value:string:true"))

  private def kindOf(name: String, params: Map[String, String]) =
    StateKind.parse(name, name, params.get)

  private def schemaOf(df: DataFrame) = df.schema.fields
    .map(f => s"${f.name}:${f.dataType.simpleString}:${f.nullable}")
    .mkString(",")

  /** Rows as sorted strings, binary columns hex-encoded. */
  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case x => String.valueOf(x)
    }.mkString("|")).toSeq.sorted

  /** A directory's files with their sizes and modification times. */
  private def listing(dir: String): Seq[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(dir)).iterator.asScala.map(f => (
      f.getFileName.toString, Files.size(f),
      Files.getLastModifiedTime(f).toMillis)).toSeq.sorted
  }

  private def isKll(name: String) = name.startsWith("quantile")

  /** What must agree bit for bit across fold paths: the stored columns
    * (sketch bytes aside — their layout may depend on merge order) and,
    * for the exact kinds, the read view.
    */
  private def exactPart(name: String, kind: StateKind,
      state: DataFrame): Seq[String] =
    canon(state.drop("sketch")) ++
      (if (isKll(name)) Nil else canon(kind.view(state)))

  test("every registered kind: frame fold ≡ durable fold ≡ drained sink ≡ foldConfig; replay no-op; mismatch raises; on-disk stamp and schema unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    assert(cases.keySet === StateKind.names,
      "every registered kind needs a case here")
    val cols = Seq("event_id", "user_id", "event_type", "value", "day", "k")
    val rows = Tables(spark, sf).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), floor(JsonEtl.tsSec(col("ts")) / 86400L).cast("long"),
        col("event_id") % 7)
      .na.drop()
      .as[(Long, Long, String, Double, Long, Long)].collect()
      .sortBy(_._1).toSeq
    // three contiguous event_id ranges: the ewma kind folds ordered batches
    val parts = rows.grouped((rows.size + 2) / 3).toSeq
    assert(parts.size === 3)
    val batches = parts.map(_.toDF(cols: _*))
    val base = Files.createTempDirectory("graft_state_kinds").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      b.write.parquet(s"$base/in$i") }
    val names = StateKind.names.toSeq.sorted

    // the streaming and document paths run beside the per-kind loop: one
    // sink per kind over one shared source, every sink drained per
    // micro-batch; one document per batch folding every kind
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val in = MemoryStream[(Long, Long, String, Double, Long, Long)]
    val sinks = names.map { n =>
      Streams.stateIngestSink(in.toDF().toDF(cols: _*), s"$base/sink/$n",
        s"$base/ckpt/$n", kindOf(n, cases(n).params))
    }
    val streamed = Future {
      try parts.foreach { p =>
        in.addData(p: _*)
        sinks.foreach(_.processAllAvailable())
      } finally sinks.foreach(_.stop())
    }

    // a document folds its blocks one after another: four documents per
    // batch, each with a quarter of the kinds, keep this path off the
    // critical path
    val documents = names.grouped((names.size + 3) / 4).toSeq.map { group =>
      Future(batches.indices.foreach { i =>
        val blocks = group.map { n =>
          (cases(n).params + ("kind" -> n) + ("path" -> s"$base/cfg/$n"))
            .map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")
        }
        val report = JsonEtl.foldConfig(spark,
          s"""{"batchId": $i, "input": {"path": "$base/in$i"},
             | "states": [${blocks.mkString(",\n")}]}""".stripMargin).collect()
        assert(report.forall(_.getBoolean(3)), s"batch $i must fold everywhere")
      })
    }

    val wants = graft.ops.Par.mapOrdered(names, inFlight = 7) { n =>
      val c = cases(n)
      val kind = kindOf(n, c.params)
      val path = s"$base/durable/$n"
      batches.zipWithIndex.foreach { case (b, i) =>
        JsonEtl.foldAt(spark, path, b, i.toLong, kind) }
      val frame = batches.tail.foldLeft(kind.state(batches.head))(kind.fold)
        .localCheckpoint()
      val durable = spark.read.parquet(path)
      val want = exactPart(n, kind, frame)
      assert(JsonEtl.aggFoldWatermark(spark, path) === 2L, n)
      assert(exactPart(n, kind, durable) === want,
        s"$n: the durable state differs from the frame-level fold")
      if (isKll(n)) {
        // KLL estimates: inside the rank-error envelope of the exact order
        // statistics of the viewed rows (the trailing 7 days when windowed)
        val all = batches.reduce(_ unionByName _)
        val maxDay = all.agg(max(col("day"))).head.getLong(0)
        val viewed = if (n.endsWith("_windowed"))
          all.filter(col("day") > maxDay - 7) else all
        val exact = viewed.select(col("event_type"), col("value")).collect()
          .groupBy(_.getString(0)).map { case (t, rs) =>
            t -> rs.map(_.getDouble(1)).sorted }
        Seq(frame, durable).foreach { st =>
          kind.view(st).collect().foreach { r =>
            val sorted = exact(r.getString(0))
            assert(r.getAs[Long]("n_rows") === sorted.length.toLong, n)
            Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99).foreach {
              case (c, q) =>
                val rank = sorted.count(_ <= r.getAs[Double](c)).toDouble /
                  sorted.length
                assert(math.abs(rank - q) <= 0.04, s"$n ${r.getString(0)} $c")
            }
          }
        }
      }
      // a replayed batch id is a no-op: the state directory is untouched
      val before = listing(path)
      JsonEtl.foldAt(spark, path, batches(1), 1L, kind)
      assert(listing(path) === before, n)
      // a mismatched parameter raises durableFold's named error, state kept
      val bad = kindOf(n, c.params + c.mismatch)
      val e = intercept[IllegalArgumentException](
        JsonEtl.foldAt(spark, path, batches(0), 3L, bad))
      assert(e.getMessage.contains("different parameters"), n)
      assert(JsonEtl.aggFoldWatermark(spark, path) === 2L, n)
      // on-disk compatibility: the stamp text and the state schema
      assert(new String(Files.readAllBytes(Paths.get(s"$path/_state_meta")),
        "UTF-8") === c.meta, n)
      assert(schemaOf(durable) === c.schema, n)
      assert(StateKind.fromStamp(JsonEtl.stateMeta(spark, path), path)
        === kind, s"$n: the stamp must parse back to its kind")
      want
    }
    (streamed +: documents).foreach(
      Await.result(_, scala.concurrent.duration.Duration.Inf))
    val checks = for ((n, want) <- names.zip(wants);
      form <- Seq("sink", "cfg")) yield (n, want, form)
    graft.ops.Par.mapOrdered(checks) { case (n, want, form) =>
      val p = s"$base/$form/$n"
      assert(JsonEtl.aggFoldWatermark(spark, p) === 2L, s"$n $form")
      assert(exactPart(n, kindOf(n, cases(n).params), spark.read.parquet(p))
        === want, s"$n: the $form state differs from the frame-level fold")
    }
  }

  test("frame-level sketch functions store a non-string key as a string, with the schemas earlier releases produce") {
    val ev = Tables(spark, sf).events
    val q = JsonEtl.quantileState(ev, "user_id")
    val a = JsonEtl.audienceState(ev, "user_id", "event_type")
    val f = JsonEtl.freqState(ev, "user_id", "event_type")
    val kll = "user_id:string:true,sketch:binary:true,n_rows:bigint:false"
    val set = "user_id:string:true,sketch:binary:true"
    assert(schemaOf(q) === kll)
    assert(schemaOf(JsonEtl.quantileUpsert(q, ev, "user_id")) === kll)
    assert(schemaOf(a) === set)
    assert(schemaOf(JsonEtl.audienceUpsert(a, ev, "user_id", "event_type"))
      === set)
    assert(schemaOf(f) === set)
    assert(schemaOf(JsonEtl.freqUpsert(f, ev, "user_id", "event_type"))
      === set)
    assert(schemaOf(JsonEtl.quantileEstimates(q)) === "user_id:string:true," +
      "n_rows:bigint:false,p50:double:true,p90:double:true,p99:double:true")
    assert(schemaOf(JsonEtl.freqTopItems(f)) === "user_id:string:true," +
      "rank:bigint:false,item:string:true,est:bigint:false,lb:bigint:false," +
      "ub:bigint:false")
  }
}
