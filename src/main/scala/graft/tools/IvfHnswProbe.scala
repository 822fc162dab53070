package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Hnsw, Ivf}

/** q184 pricing: at which nlist does graph-assisted coarse assignment
  * (IVF_HNSW) beat the argmax scan? The argmax arm is O(nlist) per
  * row (the `assignedTopR` expression — the same transform/array_sort
  * shape assemble() uses); the graph arm is O(ef·log nlist) proposals
  * + `cand` exact dots per row (`Ivf.assignGraph`). Centroid QUALITY
  * is irrelevant to assignment cost, so centroids here are synthetic
  * random unit vectors — the probe prices the scan, not k-means.
  * Also reports the tight-beam agreement vs the argmax ground truth
  * (the q184 floor's empirical headroom) and the one-time centroid
  * graph build cost.
  *
  * Round 20 (q185 — the QUERY side): two more columns price probe
  * SELECTION for a query batch — `probe_scan` (`Ivf.probeCells`, the
  * crossJoin(broadcast(centroids)) + rank window, O(nlist)/query) vs
  * `probe_graph` (`Ivf.probeCellsGraph`, beam proposals + exact
  * re-score, O(ef·log nlist)/query) at nProbe=8, ef=64, cand=16,
  * 20 K queries — the shape `LocalAnn`'s ivf serving arm pays per
  * request, measured through the batch API.
  * Usage: runMain graft.tools.IvfHnswProbe [nRows] [nlists csv] [dim]
  */
object IvfHnswProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val nlists = if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
                 else Seq(1024, 4096, 16384)
    val dim = if (args.length > 2) args(2).toInt else 64
    val spark = graft.Session.local()
    import spark.implicits._

    // deterministic corpus: per-id hashed floats in [-0.5, 0.5)
    val corpus = spark.range(n).select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)), d =>
          (pmod(xxhash64(col("id") * lit(dim) + d), lit(100000)) / 100000.0
            - 0.5).cast("float")).as("v"))
      .cache()
    corpus.count()

    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    println(s"[ivf-hnsw-probe] n=$n dim=$dim nlists=${nlists.mkString(",")}")
    nlists.foreach { nl =>
      // synthetic unit centroids, deterministic per (nl, cid)
      val rnd = new scala.util.Random(nl * 7919L)
      val cents = Array.fill(nl) {
        val c = Array.fill(dim)((rnd.nextDouble() - 0.5).toFloat)
        val nn = math.sqrt(c.map(x => x.toDouble * x).sum)
        c.map(x => (x / nn).toFloat)
      }
      val centDf = cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toSeq.toDF("centroid_id", "cvec")
      // empty assigned must carry the 3-col assigned shape — append()
      // unions the delta's (id, v, centroid_id) onto it
      val index = Ivf.Index(centDf,
        corpus.limit(0).withColumn("centroid_id", lit(-1)), "id", "v")

      val (g, buildS) = time(Ivf.centroidGraph(index, m = 16,
        efConstruction = 100))
      // argmax scan arm: Ivf.append runs assemble()'s codegen'd
      // array_max/array_position argmax on the delta — the REAL
      // assignment expression (assignedTopR's array_sort shape is
      // O(nlist log nlist) interpreted compares per row and would
      // overprice the scan ~10×)
      val (truth, scanS) = time {
        val t = Ivf.append(index, corpus).assigned
          .select(col("id"), col("centroid_id").as("tcid")).cache()
        t.count(); t
      }
      // graph arm, tight beam (the scale path)
      val (gAssigned, graphS) = time {
        val a = Ivf.assignGraph(corpus, "id", "v", g, efSearch = 64,
          cand = 8).cache()
        a.count(); a
      }
      val ag = gAssigned.join(truth, "id")
        .agg(count(lit(1)).cast("double"),
          sum(when(col("centroid_id") === col("tcid"), 1L).otherwise(0L))
            .cast("double")).head()
      // query-side probe selection (round 20, q185): 20 K queries
      val queries = corpus.filter(col("id") < 20000)
      val (_, probeScanS) = time {
        Ivf.probeCells(index, queries, "id", "v", nProbe = 8).count()
      }
      val (_, probeGraphS) = time {
        Ivf.probeCellsGraph(index, g, queries, "id", "v", nProbe = 8,
          efSearch = 64, cand = 16).count()
      }
      println(f"[ivf-hnsw-probe] nlist=$nl%6d graph_build=${buildS}%7.1fs " +
        f"argmax_scan=${scanS}%7.1fs graph_assign(ef=64,cand=8)=${graphS}%7.1fs " +
        f"agreement=${ag.getDouble(1) / ag.getDouble(0)}%.4f " +
        f"probe_scan(20K q)=${probeScanS}%7.1fs probe_graph=${probeGraphS}%7.1fs")
      gAssigned.unpersist(); truth.unpersist()
    }
    spark.stop()
  }
}
