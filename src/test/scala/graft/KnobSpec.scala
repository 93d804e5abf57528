package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

/** graft's knobs and Catalyst hooks, counted: a new conf key, rule or
  * strategy has to change this spec on purpose.
  */
class KnobSpec extends AnyFunSuite {

  private val ConfKey = """"((?:spark\.)?graft\.[^"]*)"""".r

  test("the only graft conf key in src/main is spark.graft.materialize") {
    val keys = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => ConfKey.findAllMatchIn(Files.readString(f)).map(_.group(1)))
      .toSet
    assert(keys == Set(Materialize.StrategyKey))
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
