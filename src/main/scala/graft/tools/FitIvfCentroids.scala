package graft.tools

/** Regenerates the checked-in IVF coarse-quantizer artifact
  * (`graft/operators/IvfCentroids.scala`) by fitting the seeded KMeans
  * quantizer ([[graft.operators.Similarity.ivfQuantizer]], seed 42) on an
  * embeddings corpus and rendering the centroids as Scala float literals.
  *
  * WHY an artifact in the repo: at corpus scale the coarse quantizer is
  * versioned STATE — trained once on a bounded sample, shipped to every
  * probe query — never a per-query step (the centroids are a partition
  * function; they need the corpus DISTRIBUTION, not the corpus). Checking
  * the floats in also makes the cell assignment a pure deterministic
  * expression on BOTH engines, which is what lets the q38 DuckDB oracle
  * embed the identical centroids as literals (the q31/q43 plane-literal
  * technique) instead of declaring the query rows-only.
  *
  * Run: sbt "runMain graft.tools.FitIvfCentroids [embeddingsDir] [nCells]"
  */
object FitIvfCentroids {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nCells = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = graft.Sessions.local(8)
    val model = graft.operators.Similarity.ivfQuantizer(spark, dir, nCells)
    val cents = model.clusterCenters.map(_.toArray.map(_.toFloat))
    val dim = cents.head.length
    val rows = cents.map(_.map(f => s"${f}f").mkString("    Array(", ", ", ")"))
      .mkString(",\n")
    val src =
      s"""package graft.operators
         |
         |/** Fit-once IVF coarse-quantizer ARTIFACT — $nCells cells over
         |  * $dim-dim embeddings, trained by seeded KMeans (seed 42, bounded
         |  * sample; [[Similarity.ivfQuantizer]]) on `$dir` and checked in as
         |  * literals. GENERATED by graft.tools.FitIvfCentroids — regenerate
         |  * there when the corpus distribution changes; do not edit by hand.
         |  *
         |  * Floats (not the fit's doubles) are stored because the engine's
         |  * cell assignment runs `float_dot` over array<float>; the DuckDB
         |  * oracle embeds the float-exact doubles of THESE values, so both
         |  * engines assign identical cells bit-for-bit.
         |  */
         |object IvfCentroids {
         |  val dim = $dim
         |  val cells: Array[Array[Float]] = Array(
         |$rows)
         |
         |  /** CONTENT-derived version of this quantizer artifact (r14 VERDICT
         |    * #2): md5 over every centroid component's raw float bits, in cell
         |    * and dimension order. A persisted IVF store is keyed on (and
         |    * validated against) this string, so a store built under an older
         |    * centroid fit can never silently serve probes planned under a newer
         |    * one — regenerating the artifact changes the version, which changes
         |    * the store path AND fails the store-meta check. Computed, not
         |    * hand-bumped: an edit that forgets to bump a manual version is
         |    * exactly the drift this exists to prevent. */
         |  lazy val version: String = {
         |    val md = java.security.MessageDigest.getInstance("MD5")
         |    val buf = java.nio.ByteBuffer.allocate(4)
         |    cells.foreach(_.foreach { v =>
         |      buf.clear(); buf.putFloat(v)
         |      md.update(buf.array(), 0, 4)
         |    })
         |    md.digest().map("%02x".format(_)).mkString.take(12)
         |  }
         |
         |  /** ||c||² accumulated in the same left-to-right double fold
         |    * `float_dot` uses — so `dot(v,c) - 0.5*sqNorm(c)` matches the
         |    * oracle's `list_dot_product(v,c) - <literal>` bit-for-bit. */
         |  def sqNorm(c: Array[Float]): Double = {
         |    var acc = 0.0
         |    var i = 0
         |    while (i < c.length) { acc += c(i).toDouble * c(i).toDouble; i += 1 }
         |    acc
         |  }
         |}
         |""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("src/main/scala/graft/operators/IvfCentroids.scala"), src)
    println(s"wrote IvfCentroids.scala ($nCells cells x $dim dims from $dir)")
    spark.stop()
  }
}
