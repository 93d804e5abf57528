package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

/** graft's knobs and Catalyst hooks, counted: a new conf key, rule,
  * strategy or data source has to change this spec on purpose.
  */
class KnobSpec extends AnyFunSuite {

  private val ConfKey = """"((?:spark\.)?graft\.[^"]*)"""".r

  private def sources: Seq[(String, String)] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => f.toString -> Files.readString(f)).toSeq

  test("the only graft conf key in src/main is spark.graft.materialize") {
    val keys = sources.flatMap { case (_, text) => ConfKey.findAllMatchIn(text).map(_.group(1)) }
      .toSet
    assert(keys == Set(Materialize.StrategyKey))
  }

  test("src/main authors no data source, so no string-keyed reader options") {
    val hits = for {
      (file, text) <- sources
      api <- Seq("CaseInsensitiveStringMap", "TableProvider", "MicroBatchStream")
      if text.contains(api)
    } yield s"$file: $api"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("GraftExtensions injects one optimizer rule and no other Catalyst hook") {
    val e = new SparkSessionExtensions
    new GraftExtensions().apply(e)
    // every `build*(session)` of SparkSessionExtensions returns what
    // one kind of `inject*` call registered; graft's builders ignore
    // the session
    val hooks = classOf[SparkSessionExtensions].getMethods.toSeq
      .filter(m => m.getName.startsWith("build") &&
        m.getParameterTypes.toSeq == Seq(classOf[SparkSession]))
      .flatMap { m =>
        m.invoke(e, null) match {
          case built: Seq[_] => built.map(h => m.getName -> h.getClass.getSimpleName)
          case _ => Nil
        }
      }
    assert(hooks == Seq("buildOptimizerRules" -> "SmallSort$"))
  }
}
