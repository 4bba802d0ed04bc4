package graft.pages

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}

/** Materialisation of the synthetic `pages` table (FIXTURES.md §1) plus
  * its golden sidecar tables (`<sf>_spans`, `<sf>_meta`) for the DuckDB
  * oracle.
  *
  * Deterministic per (seed, n): generation is a pure function, so the
  * parquet can be (re)built at any time and oracle queries over it are
  * stable. Generated distributed — one generator per partition, no
  * driver-side collection. The directory is VERSIONED (see [[Version]]):
  * any change to the generator bumps the version so stale data is never
  * reused.
  */
object PagesTable {
  val Seed = 42L
  val Version = "v5" // v5: skewed + partly cross-host link targets (hrefs only; text/spans unchanged)

  /** Row count per scale-factor directory name. */
  def rowsFor(sfName: String): Long = sfName match {
    case "sf0.001" => 200L
    case "sf0.01"  => 2000L
    case "sf0.03"  => 30000L // tier-scaling harness scale: work-dominated
                             // at every level, narrow level still finishes
    case "sf0.1"   => 100000L
    case "sf0.3"   => 300000L
    case "sf1"     => 1000000L // order-of-magnitude smoke over the bench SF
    case "sf3"     => 3000000L // second tier-scaling decade point (round 5:
                               // pins the gram-exchange linearity claim)
    case _         => 2000L
  }

  /** The committed layout expectation sidecars, under the checkout root. */
  val SidecarDir = "src/test/resources/golden/sidecars"

  /** The checkout root: the nearest ancestor of the working directory
    * holding [[SidecarDir]], else the working directory. Pages tables live
    * under its `data/`, where the DuckDB oracle reads them too. */
  lazy val repoRoot: java.io.File = {
    val cwd = new java.io.File(".").getCanonicalFile
    Iterator.iterate(cwd)(_.getParentFile).takeWhile(_ != null)
      .find(d => new java.io.File(d, SidecarDir).isDirectory).getOrElse(cwd)
  }

  def dirFor(sfName: String): String = s"$repoRoot/data/pages_$Version/$sfName"
  def spansDirFor(sfName: String): String = s"${dirFor(sfName)}_spans"
  def metaDirFor(sfName: String): String = s"${dirFor(sfName)}_meta"

  /** Distributed deterministic generation. */
  def generate(spark: SparkSession, seed: Long, n: Long,
               partitions: Int = 32): Dataset[PageRow] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).mapPartitions { it =>
      it.map(i => PageGen.page(seed, i))
    }
  }

  /** Write-if-missing (pages + golden sidecars); returns the parquet path.
    * Generation runs once per output table — regenerating is cheaper than
    * caching 100k html payloads in executor memory.
    *
    * Completion is gated on a single COMBINED marker written after the
    * LAST of the three tables: gating on the pages dir's own `_SUCCESS`
    * would let a crash between the pages write and the sidecar writes
    * leave a "complete-looking" pages table with missing sidecars that
    * are never rebuilt (the oracle queries would then fail). */
  def ensure(spark: SparkSession, sfName: String): String = {
    import spark.implicits._
    val dir = dirFor(sfName)
    val marker = new java.io.File(dir, "_GRAFT_COMPLETE")
    if (!marker.exists()) {
      val n = rowsFor(sfName)
      // many small-ish files: the scan then yields several task waves per
      // core at any local[N], so stragglers amortise (one-wave scans are
      // gated by their slowest task and measure skew, not throughput)
      val parts = math.max(1, math.min(192, n / 100)).toInt
      def gen = spark.range(0, n, 1, parts).mapPartitions(_.map(i => PageGen.pageFull(Seed, i)))
      gen.map(_.row).write.mode(SaveMode.Overwrite).parquet(dir)
      gen.flatMap(_.spans).write.mode(SaveMode.Overwrite).parquet(spansDirFor(sfName))
      gen.map(_.meta).write.mode(SaveMode.Overwrite).parquet(metaDirFor(sfName))
      java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
    }
    dir
  }
}
