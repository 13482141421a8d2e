package graft.operators

import scala.language.implicitConversions

/** The shape of a coarse-to-fine Lloyd quantizer — what
  * [[Similarity.kmeansFit]], [[Similarity.semDedupPairs]],
  * [[Similarity.knnGraph]] and the IVF / k-NN graph index builds
  * train. The value picks the plan: a flat quantizer (and a one-level
  * `Levels`) trains one literal-argmax level; a longer `Levels` runs
  * the distributed descent, one level per entry. */
sealed trait Quantizer {
  /** Cells per level (per parent below the coarse one), coarse to
    * fine. */
  def sizes: Seq[Int]
}

object Quantizer {
  /** One level of `nCells` cells, assigned by a literal argmax. */
  final case class Flat(nCells: Int) extends Quantizer {
    def sizes: Seq[Int] = Seq(nCells)
  }

  /** `sizes.head` coarse cells (a driver-side literal), then
    * `sizes(i)` cells per parent at each deeper level. */
  final case class Levels(sizes: Seq[Int]) extends Quantizer {
    require(sizes.nonEmpty && sizes.forall(_ >= 1),
      s"Quantizer.Levels($sizes): every level needs >= 1 cell")
  }

  /** A bare cell count is a flat quantizer (`nCells = 16`). */
  implicit def flat(nCells: Int): Quantizer = Flat(nCells)
}

/** How a persisted index sizes its quantizer from the corpus count —
  * the policy its `meta` pins, so every maintenance retrain re-derives
  * the quantizer from the grown corpus under the SAME dials.
  * [[Similarity.maintainIvfIndex]] / [[Similarity.maintainKnnGraphIndex]]
  * read it back from meta and make one rebuild call. */
sealed trait Sizing {
  /** The occupancy the skew cap scales with at `rows`. */
  def occupancyAt(rows: Long): Int
  /** The quantizer this policy trains for a `rows`-vector corpus. */
  def quantizer(rows: Long): Quantizer
  /** The IVF meta's `min_occupancy` column. */
  def minOccupancy: Int
  /** The meta columns that mark the policy (none for the flat one). */
  def pins: Seq[(String, Int)]

  /** `skewFactor × occupancy` — the skew cap that keeps catching only
    * degenerate cells at every corpus size. */
  def maxCell(rows: Long, skewFactor: Int = 64): Int =
    math.min(Int.MaxValue.toLong,
      skewFactor.toLong * occupancyAt(rows)).toInt
}

object Sizing {
  /** Flat, √N occupancy floored at `minOccupancy`
    * ([[Similarity.balancedOccupancy]]). */
  final case class Balanced(minOccupancy: Int = 32) extends Sizing {
    def occupancyAt(rows: Long): Int =
      Similarity.balancedOccupancy(rows, minOccupancy)
    def quantizer(rows: Long): Quantizer =
      Quantizer.Flat(Similarity.cellsForOccupancy(rows, occupancyAt(rows)))
    def pins: Seq[(String, Int)] = Nil
  }

  /** Two levels at CONSTANT occupancy ([[Similarity.hierCells]]). */
  final case class TwoLevel(occupancy: Int) extends Sizing {
    def occupancyAt(rows: Long): Int = occupancy
    def quantizer(rows: Long): Quantizer = {
      val (nCoarse, nFine) = Similarity.hierCells(rows, occupancy)
      Quantizer.Levels(Seq(nCoarse, nFine))
    }
    def minOccupancy: Int = occupancy
    def pins: Seq[(String, Int)] = Seq("occupancy" -> occupancy)
  }

  /** Log-depth levels of pinned `branch` at CONSTANT occupancy
    * ([[Similarity.treeLevelSizes]]). */
  final case class Tree(occupancy: Int, branch: Int = 64) extends Sizing {
    def occupancyAt(rows: Long): Int = occupancy
    def quantizer(rows: Long): Quantizer =
      Quantizer.Levels(Similarity.treeLevelSizes(rows, occupancy, branch))
    def minOccupancy: Int = occupancy
    def pins: Seq[(String, Int)] =
      Seq("occupancy" -> occupancy, "branch" -> branch)
  }
}
