package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.Expression
import org.scalatest.funsuite.AnyFunSuite

/** A kernel reaches a plan as one Spark `StaticInvoke`; a Catalyst
  * `Expression` class of graft's own stays only for a reason the
  * `graft.expressions` package scaladoc names. This scans the classes
  * compiled from `src/main`, so a new forwarding class fails here until it
  * is either a `StaticInvoke` or added to the kept set with its reason.
  */
class ExpressionSurfaceSpec extends AnyFunSuite {

  private val Kept = Set("MarkerHits", "LangPredict", "PretokenCount",
    "SplitBucket", "ProductAgg", "AboveWatermarkPredicate", "BinaryStringApply")

  private val mainClasses: Path = Paths.get(classOf[graft.expressions.StringKernels]
    .getProtectionDomain.getCodeSource.getLocation.toURI)

  test("the concrete Expression classes under src/main are exactly the kept set") {
    assert(Files.isDirectory(mainClasses), s"not a class directory: $mainClasses")
    val loader = getClass.getClassLoader
    val found = Files.walk(mainClasses).iterator.asScala
      .map(mainClasses.relativize(_).toString)
      .filter(_.endsWith(".class"))
      .map(p => Class.forName(p.stripSuffix(".class").replace('/', '.'),
        false, loader))
      .filter(c => classOf[Expression].isAssignableFrom(c) && !c.isInterface &&
        !Modifier.isAbstract(c.getModifiers))
      .map(_.getSimpleName)
      .toSet
    assert(found === Kept)
  }

  test("the graft.expressions scaladoc names every kept class") {
    val doc = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/expressions/package.scala")), "UTF-8")
    val unnamed = Kept.filterNot(k => doc.contains(k))
    assert(unnamed.isEmpty, s"kept without a stated reason: $unnamed")
  }
}
