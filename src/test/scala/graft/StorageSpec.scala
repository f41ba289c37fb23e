package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ConfigFacts, Warehouse}
import graft.sources.Writers

class StorageSpec extends AnyFunSuite {
  import TestSession._

  test("config-driven fact generation equals the hand-written fact") {
    val byHand = Warehouse.factSales(Tables.lineitem(spark, sf), Tables.orders(spark, sf))
    val byConfig = ConfigFacts.configFactSales(Tables.lineitem(spark, sf), Tables.orders(spark, sf))
    val shared = byHand.columns.toSet.intersect(byConfig.columns.toSet).toSeq.sorted
    assert(shared.size >= 12, s"configs should cover the fact columns, got $shared")
    val a = byHand.select(shared.map(col): _*)
    val b = byConfig.select(shared.map(col): _*)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("partitioned write enables partition pruning on read") {
    withTempDir("graft-part") { dir =>
      val fact = Warehouse.factSales(Tables.lineitem(spark, sf), Tables.orders(spark, sf))
      Writers.writePartitionedByMonth(fact, "date_key", dir)
      val back = Writers.readPartitioned(spark, dir)
        .filter(col("part_month") === "1995-01")
      back.collect()
      val plan = back.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(part_month"),
        s"no partition pruning in:\n$plan")
      assert(back.count() > 0)
    }
  }

  test("feature export round-trips with version stamp and bucket pruning") {
    withTempDir("graft-feat") { dir =>
      val features = graft.ml.Inference.aggFeatureStore(Tables.orders(spark, sf))
      val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val (nRecords, nFeatures) = Writers.exportFeatures(features, "entity_id", dir, ts)
      // features_count = the feature set the version hash covers (entity
      // column excluded — it is an address, not a feature)
      assert(nRecords == features.count() && nFeatures == features.columns.length - 1)
      val back = spark.read.parquet(dir)
      // metadata stamped: one constant version hash matching the
      // reference's md5-of-sorted-features recipe, the supplied timestamp
      val expectVersion = graft.ml.FeatureViews.featureVersion(
        features.columns.filterNot(_ == "entity_id").toSeq)
      val versions = back.select("feature_version").distinct().collect()
      assert(versions.map(_.getString(0)).toSeq == Seq(expectVersion))
      assert(back.select("feature_extraction_ts").distinct().count() == 1)
      // every original row+column survives; a bucket filter prunes partitions
      assert(back.count() == nRecords)
      features.columns.foreach(c => assert(back.columns.contains(c), s"lost column $c"))
      val probe = back.filter(col("entity_bucket") === 3)
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(entity_bucket"),
        s"no bucket pruning in:\n$plan")
      // bucket assignment is the hash the serving side can recompute
      assert(probe.filter(pmod(col("entity_id"), lit(16)) =!= 3).count() == 0)
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    Seq("b_orders", "b_lines").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
    val lines = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    Writers.writeBucketed(orders, "b_orders", "o_orderkey")
    Writers.writeBucketed(lines.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lines", "o_orderkey")
    val joined = spark.table("b_orders").join(spark.table("b_lines"), "o_orderkey")
      .groupBy("o_custkey").agg(sum("l_quantity").as("q"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    val needle = "Exchange hashpartitioning(o_orderkey"
    val exchangesBeforeAgg = plan.sliding(needle.length).count(_ == needle)
    assert(exchangesBeforeAgg == 0, s"join key shuffle present despite bucketing:\n$plan")
  }

  test("range-clustered write yields disjoint per-file key ranges; a narrow probe touches few files") {
    withTempDir("graft-cluster") { dir =>
      Writers.writeClustered(Tables.lineitem(spark, sf), dir, 8, "l_shipdate")
      val perFile = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min(unix_micros(col("l_shipdate").cast("timestamp"))).as("mn"),
          max(unix_micros(col("l_shipdate").cast("timestamp"))).as("mx"))
        .collect()
        .map(r => (r.getAs[Long]("mn"), r.getAs[Long]("mx")))
        .sortBy(_._1)
      assert(perFile.length > 1)
      // ranges are non-overlapping except possibly at their boundary value
      perFile.sliding(2).foreach { case Array((_, mx1), (mn2, _)) =>
        assert(mn2 >= mx1, s"file ranges overlap: $mx1 > $mn2")
      case _ => ()
      }
      // a probe covering one file's range intersects at most 2 files
      val (pMn, pMx) = perFile(perFile.length / 2)
      val touched = perFile.count { case (mn, mx) => mx >= pMn && mn <= pMx }
      assert(touched <= 2, s"narrow probe touches $touched files")
    }
  }

  test("csv and json round-trips preserve the staging frame exactly") {
    val df = operators.Warehouse.stagingClean(Tables.customer(spark, sf))
    withTempDir("graft-csv") { csvDir =>
      withTempDir("graft-json") { jsonDir =>
        val viaCsv = graft.sources.SemiStructured.csvRoundTrip(df, csvDir)
        val viaJson = graft.sources.SemiStructured.jsonRoundTrip(df, jsonDir)
        assert(df.exceptAll(viaCsv).count() == 0 && viaCsv.exceptAll(df).count() == 0)
        assert(df.exceptAll(viaJson).count() == 0 && viaJson.exceptAll(df).count() == 0)
      }
      }
  }

  test("csv quarantine: malformed rows split out, clean rows parse fully") {
    import org.apache.spark.sql.types._
    withTempDir("graft-badcsv") { d =>
      val dir = java.nio.file.Paths.get(d)
      java.nio.file.Files.write(dir.resolve("part.csv"),
        ("id,amount,name\n" +
          "1,10.5,alpha\n" +
          "2,not_a_number,beta\n" +   // unparseable amount
          "3,30.25,gamma\n").getBytes)
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("amount", DoubleType),
        StructField("name", StringType)))
      val (clean, bad, release) = graft.sources.SemiStructured
        .csvReadWithQuarantine(spark, dir.toString, schema)
      assert(clean.count() == 2)
      assert(clean.filter(col("amount").isNull).count() == 0)
      val badLines = bad.collect().map(_.getString(0))
      assert(badLines.length == 1 && badLines(0).contains("not_a_number"))
      release.unpersist()
      assert(spark.sharedState.cacheManager.isEmpty, "quarantine parse cache leaked")
    }
  }

  test("z-order groups confine both key dimensions to their Morton tile") {
    // a 2^22-wide zkey block interleaves 11 bits of each dimension, so
    // every file_group's bounding box must fit a 2048x2048 tile — the
    // property that lets ONE clustered write serve range probes on
    // EITHER column (file skipping in both dimensions)
    val z = graft.operators.Diagnostics.zorderKey(Tables.lineitem(spark, sf))
    val spans = z.groupBy(col("file_group")).agg(
      (max(col("l_partkey") % 65536) - min(col("l_partkey") % 65536)).as("xspan"),
      (max(col("l_suppkey") % 65536) - min(col("l_suppkey") % 65536)).as("yspan"))
    val bad = spans.filter(col("xspan") >= 2048 || col("yspan") >= 2048).count()
    assert(bad == 0, "a z-order group leaked outside its Morton tile")
  }

  test("state marts round-trip through day-partitioned parquet: rollup FROM FILES == direct") {
    // the deployed shape of q_hll_rollup / q_quantile_rollup: the daily
    // job appends a day partition of mergeable state; the weekly job
    // reads STATE FILES only, never raw events
    import graft.ml.Approx
    val events = Tables.events(spark, sf)
    withTempDir("graft-state") { dir =>
      val qs = Approx.quantileState(events)
      qs.write.partitionBy("day").mode("overwrite").parquet(s"$dir/qstate")
      val qBack = spark.read.parquet(s"$dir/qstate")
      val fromFiles = Approx.quantileEstimates(qBack)
        .collect().map(_.toString).sorted.toSeq
      val direct = Approx.quantileEstimates(qs)
        .collect().map(_.toString).sorted.toSeq
      assert(fromFiles.nonEmpty && fromFiles == direct,
        "quantile rollup from persisted state diverges from direct rollup")

      val hd = Approx.hllDaily(events)
      hd.write.partitionBy("day").mode("overwrite").parquet(s"$dir/hll")
      val hBack = spark.read.parquet(s"$dir/hll")
      def rolled(d: org.apache.spark.sql.DataFrame) = d.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("du")).as("sum_du"),
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
        .collect().map(_.toString).sorted.toSeq
      val hFiles = rolled(hBack)
      assert(hFiles.nonEmpty && hFiles == rolled(hd),
        "HLL union over persisted day sketches diverges from direct union")
    }
  }

  test("serving artifacts persist versioned and serve bit-equal after reload") {
    import graft.sources.Artifacts
    withTempDir("graft-artifacts") { dir =>
      val docs = Tables.documents(spark, sf)
      def sameRows(a: org.apache.spark.sql.DataFrame,
                   b: org.apache.spark.sql.DataFrame): Unit = {
        assert(a.collect().map(_.toSeq).toSet == b.collect().map(_.toSeq).toSet)
        assert(a.count() == b.count())
      }
      // BPE merge tables (word + subword grain): deterministic artifacts
      // version stably across REBUILDS, and apply from the loaded table
      // is bit-equal to apply from the trained one
      val merges = graft.text.Bpe.bpeTrain(docs)
      assert(Artifacts.artifactVersion(merges) ==
        Artifacts.artifactVersion(graft.text.Bpe.bpeTrain(docs)))
      val v = Artifacts.save(merges, dir, "bpe_merges")
      val (lm, lv) = Artifacts.load(spark, dir, "bpe_merges")
      assert(lv == v)
      sameRows(graft.text.Bpe.bpeApply(docs, lm),
        graft.text.Bpe.bpeApply(docs, merges))
      val sub = graft.text.SubwordBpe.subwordTrain(docs)
      Artifacts.save(sub, dir, "subword_merges")
      sameRows(graft.text.SubwordBpe.subwordApply(docs,
        Artifacts.load(spark, dir, "subword_merges")._1),
        graft.text.SubwordBpe.subwordApply(docs, sub))
      // DSIR token weights: deterministic, stable version across rebuilds
      val w = graft.text.Vocab.dsirWeights(docs)
      assert(Artifacts.artifactVersion(w) ==
        Artifacts.artifactVersion(graft.text.Vocab.dsirWeights(docs)))
      Artifacts.save(w, dir, "dsir_weights")
      sameRows(Artifacts.load(spark, dir, "dsir_weights")._1, w)
    }
  }

  test("index artifacts (bloom bits, IVF-PQ row, chunk row) reload and serve bit-equal") {
    import graft.sources.Artifacts
    withTempDir("graft-artifacts2") { dir =>
      val docs = Tables.documents(spark, sf)
      // Bloom bits: the fixed-8 KB screen artifact
      val evalSh = graft.text.TextPrep.shingles(docs).select("shingle").distinct()
      val bits = graft.text.Filters.bloomBits(evalSh)
      Artifacts.save(bits, dir, "bloom_bits")
      val (lbits, _) = Artifacts.load(spark, dir, "bloom_bits")
      assert(lbits.collect()(0).getSeq[Long](0) == bits.collect()(0).getSeq[Long](0))
      // IVF-PQ serving row: queries served from the LOADED artifact are
      // bit-equal to queries served from the built one
      val emb = Tables.embeddings(spark, sf)
      val arts = graft.streaming.VecStream.serveArtifacts(emb, 16, 8, 8, 64)
      Artifacts.save(arts, dir, "pq_index")
      val (larts, _) = Artifacts.load(spark, dir, "pq_index")
      val probes = emb.select(col("vec_id"), col("embedding")).filter(col("vec_id") < 5)
      val a = graft.streaming.VecStream.serveRows(probes, arts, 10, 5, 8, 8)
      val b = graft.streaming.VecStream.serveRows(probes, larts, 10, 5, 8, 8)
      assert(a.collect().map(_.toSeq).toSet == b.collect().map(_.toSeq).toSet)
      // chunk serving row (carries a MAP column): reload serves bit-equal
      val carts = graft.streaming.ChunkStream.chunkArtifacts(docs)
      Artifacts.save(carts, dir, "chunk_index")
      val (lcarts, _) = Artifacts.load(spark, dir, "chunk_index")
      val pdocs = docs.filter(col("doc_id") < 5)
      val ca = graft.streaming.ChunkStream.serveRows(pdocs, carts, 10, 8, 50, 60)
      val cb = graft.streaming.ChunkStream.serveRows(pdocs, lcarts, 10, 8, 50, 60)
      assert(ca.collect().map(_.toSeq).toSet == cb.collect().map(_.toSeq).toSet)
      assert(ca.count() > 0)
      // a tampered stamp fails CLOSED at load, not as wrong serving rows
      val bad = bits.withColumn("artifact_version", lit("deadbeef"))
      bad.coalesce(1).write.mode("overwrite").parquet(s"$dir/tampered")
      assertThrows[IllegalArgumentException] {
        Artifacts.load(spark, dir, "tampered")
      }
    }
  }

  test("corpus-scale index parts round-trip through parquet and serve bit-equal") {
    // The chunk index PARTS (embeddings, postings, df, stats) grow with
    // the corpus, so they persist as plain parquet datasets (the
    // day-partitioned state-mart device), NOT driver-hashed Artifacts —
    // bounded-size is the Artifacts contract. A later session holding
    // only the files must serve q_chunk_retrieval bit-equal.
    import graft.ann.ChunkRetrieval
    withTempDir("graft-parts") { dir =>
      val docs = Tables.documents(spark, sf)
      val factor = ChunkRetrieval.chunkFactorFor(docs)
      val (ce, postings, dfAll, stats) =
        ChunkRetrieval.indexParts(ChunkRetrieval.chunks(docs, factor))
      for ((df, name) <- Seq((ce, "ce"), (postings, "postings"),
          (dfAll, "df"), (stats, "stats")))
        df.write.mode("overwrite").parquet(s"$dir/$name")
      def back(name: String) = spark.read.parquet(s"$dir/$name")
      val served = ChunkRetrieval.serveFromParts(back("ce"), back("postings"),
        back("df"), back("stats"), docs)
      val rebuilt = ChunkRetrieval.chunkRetrieval(docs)
      assert(served.count() > 0)
      assert(served.collect().map(_.toSeq).toSet ==
        rebuilt.collect().map(_.toSeq).toSet,
        "serving from persisted index parts diverged from the rebuild")
    }
  }

  test("corpus-sized parts persist stamped with a DISTRIBUTED version; corruption fails closed") {
    // the gap the plain-parquet round-trip above leaves open: index
    // parts GROW with the corpus, so Artifacts.artifactVersion (a
    // driver collect, bounded by design) cannot stamp them — the
    // distributed stamp (order-insensitive xxhash64 aggregate) can
    import graft.ann.ChunkRetrieval
    import graft.sources.Artifacts
    withTempDir("graft-parts-v") { dir =>
      val docs = Tables.documents(spark, sf)
      val factor = ChunkRetrieval.chunkFactorFor(docs)
      val (_, postings, _, _) =
        ChunkRetrieval.indexParts(ChunkRetrieval.chunks(docs, factor))
      // order-insensitive: a repartitioned build versions identically...
      assert(Artifacts.distributedVersion(postings) ==
        Artifacts.distributedVersion(postings.repartition(7)))
      // ...but any VALUE change moves the version
      assert(Artifacts.distributedVersion(postings) !=
        Artifacts.distributedVersion(
          postings.withColumn("tf", col("tf") + 1L)))
      // save/load round-trip: stamp re-verified, content preserved
      val v = Artifacts.saveLarge(postings, dir, "postings")
      val (lp, lv) = Artifacts.loadLarge(spark, dir, "postings")
      assert(lv == v)
      assert(lp.exceptAll(postings).count() == 0 &&
        postings.exceptAll(lp).count() == 0)
      // an injected schema-identical row still fails closed: the
      // recomputed content version no longer matches the sidecar
      lp.limit(1).withColumn("tf", col("tf") + 1L)
        .write.mode("append").parquet(s"$dir/postings")
      assertThrows[IllegalArgumentException] {
        Artifacts.loadLarge(spark, dir, "postings")
      }
    }
  }

  test("extensions class registers graft_dot at session build time") {
    // applying to a fresh extensions container must succeed and register
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // the session-level path stays the primary registration mechanism
    graft.functions.DotScaled.register(spark)
    val n = spark.sql("SELECT graft_dot(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT))) AS d")
      .collect()(0).getLong(0)
    assert(n == (2.0 * 1099511627776.0).toLong)
  }
}
