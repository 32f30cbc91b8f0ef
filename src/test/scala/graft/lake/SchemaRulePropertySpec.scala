package graft.lake

import scala.util.Try

import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the one schema rule, [[LakeTable.evolvedSchema]], over
  * the [[LakeTable.canWiden]] lattice with random letter case — pure
  * `StructType` folds on the driver, no Spark job:
  *
  *  - fit: `evolvedSchema(cur, incoming) == cur` exactly when every
  *    incoming column names a `cur` column, ignoring case, with the same
  *    or a narrower type (the check both `graft-table` writers run
  *    without `mergeSchema`, and the stream source's ancestor check);
  *  - fold: folding a sequence of changes and applying the folded
  *    result once to the starting schema gives the folded result (what
  *    `SchemaRegistry` relies on to commit a batch's events once).
  */
class SchemaRulePropertySpec extends AnyFunSuite {

  /** Deterministic scalacheck run (fixed seed), mirroring
    * RelationPruningPropertySpec. */
  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(3000)
      .withInitialSeed(Seed(20261021L)), p)
    assert(res.passed, res.status.toString)
  }

  private val types: Seq[DataType] = Seq(ShortType, IntegerType, LongType,
    FloatType, DoubleType, BooleanType, StringType)

  /** Reference "same or narrower": `from` fits a column of type `to`. */
  private def fitsInto(from: DataType, to: DataType): Boolean =
    from == to || Set[(DataType, DataType)](
      ShortType -> IntegerType, ShortType -> LongType,
      ShortType -> DoubleType, IntegerType -> LongType,
      IntegerType -> DoubleType,
      LongType -> DoubleType, FloatType -> DoubleType)((from, to))

  private val names = Seq("a", "b", "c", "d", "e")

  private def spelled(n: String): Gen[String] =
    Gen.oneOf(n, n.toUpperCase)

  private def field(n: String): Gen[StructField] = for {
    name <- spelled(n)
    dt <- Gen.oneOf(types)
    nullable <- Gen.oneOf(true, false)
  } yield StructField(name, dt, nullable)

  /** A table schema: distinct names ignoring case. */
  private val curGen: Gen[StructType] = for {
    ns <- Gen.someOf(names)
    fs <- Gen.sequence[Seq[StructField], StructField](ns.map(field))
  } yield StructType(fs)

  /** A frame's or an event's columns: any names, any case. */
  private val incomingGen: Gen[StructType] = for {
    k <- Gen.choose(0, 4)
    fs <- Gen.listOfN(k, Gen.oneOf(names).flatMap(field))
  } yield StructType(fs)

  test("a schema fits exactly when every column names one with the same or a narrower type") {
    check(Prop.forAll(curGen, incomingGen) { (cur, incoming) =>
      val fits = incoming.forall(f => cur.exists(g =>
        g.name.equalsIgnoreCase(f.name) && fitsInto(f.dataType, g.dataType)))
      Try(LakeTable.evolvedSchema(cur, incoming)).toOption.contains(cur) ==
        fits
    })
  }

  test("folding a sequence of changes equals applying the folded result once") {
    val changesGen = Gen.choose(1, 4).flatMap(Gen.listOfN(_, incomingGen))
    check(Prop.forAll(curGen, changesGen) { (cur, changes) =>
      val folded = Try(changes.foldLeft(cur)(LakeTable.evolvedSchema))
      // a sequence holding an incompatible change has no folded result
      folded.isSuccess ==> (LakeTable.evolvedSchema(cur, folded.get) ==
        folded.get)
    })
  }
}
