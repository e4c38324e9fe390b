package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only companion to the r10 scale curve (SCALE_CURVE.md): the two
  * cell-bucketed ANN families measured superlinear under the FIXTURE
  * parameterization (centroid stride fixed at 50 → C ∝ N → the
  * corpus×centroid assignment pass is Θ(N²/50)). This probe times
  * semDedup / the IVF store pair at one scale under a RANGE of
  * centroid counts, so the curve's shape can be attributed to the
  * C-knob rather than to the operators: total ≈ Θ(N·C) assignment +
  * Θ(N²·topN²/C) within-cell pair work, optimal near C ∝ √(N).
  *
  * Usage: runMain graft.tools.ScaleProbe <dir> <stride1,stride2,...>
  * where a stride token may be `auto` — the engine default
  * ([[graft.operators.Similarity.autoCentroids]], C ≈ √N), which this
  * probe gates: the default column must be best-or-within-noise at
  * every measured decade.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val strides = args(1).split(",").map(_.trim)
    val spark = graft.Sessions.fromEnv()
    import graft.operators.Similarity
    val emb = graft.Tables.embeddings(spark, dir)
    val n = emb.count()
    println(s"[probe] corpus rows=$n dir=$dir")
    def time(label: String)(f: => Long): Unit = {
      // rep 1 warms, rep 2 reports (matches the bench's min-of-reps idea)
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); val r = f
        ((System.nanoTime() - t0) / 1e9, r)
      }
      println(f"[probe] $label: ${ts.map(_._1).min}%.2f s (rows=${ts.last._2})")
    }
    strides.foreach { st =>
      def build() =
        if (st == "auto") Similarity.autoCentroids(emb)
        else Similarity.sampleCentroids(emb, st.toLong)
      val cents = build()
      val c = cents.count()
      time(s"semDedup stride=$st C=$c") {
        Similarity.semDedup(emb, build(),
          threshold = 0.4, nProbe = 2).count()
      }
      // each rep builds its OWN store: reusing one path would make rep
      // 2 append a second copy and time topK over a store twice rep
      // 1's size — min-of-reps must compare equal workloads
      val repStores = scala.collection.mutable.ListBuffer.empty[java.io.File]
      time(s"ivf append+topk stride=$st C=$c") {
        val dir = java.nio.file.Files.createTempDirectory("graft_probe_").toFile
        repStores += dir
        val store = dir.toString + "/store"
        Similarity.ivfStoreAppend(emb.filter(col("vec_id") % 2 === 0), cents, store)
        Similarity.ivfStoreAppend(emb.filter(col("vec_id") % 2 === 1), cents, store)
        Similarity.ivfTopKFromStore(spark.read.parquet(store),
          emb.filter(col("vec_id") < 10), cents, k = 5, nProbe = 3).count()
      }
      repStores.foreach { d =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(d)
      }
    }
    spark.stop()
  }
}
