package graft

import java.io.File

import org.apache.spark.sql.graft.ShutdownDelete

import graft.registry.{ArtifactStore, Shared}

/** The session artifact store behind the registry: one build per
  * (session, sf dir, artifact name), a fresh session starts cold, and
  * an artifact at rest is deleted when the JVM exits.
  */
class ArtifactStoreSpec extends SparkSuite {

  private val dir = "artifact-store-spec"

  test("one build per (session, dir, name)") {
    var builds = 0
    def get(d: String): Int =
      ArtifactStore.getOrElseUpdate(spark, d, "once", { builds += 1; builds })
    assert(get(dir) == 1)
    assert(get(dir) == 1)
    assert(builds == 1)
    // another sf dir is another artifact
    assert(get(dir + "-other") == 2)
    assert(get(dir + "-other") == 2)
    assert(builds == 2)
  }

  test("two names under the same session and dir do not collide") {
    val a = ArtifactStore.getOrElseUpdate(spark, dir, "name-a", "a")
    val b = ArtifactStore.getOrElseUpdate(spark, dir, "name-b", 42)
    assert(a == "a")
    assert(b == 42)
    assert(ArtifactStore.getOrElseUpdate(spark, dir, "name-a", "rebuilt") == "a")
    assert(ArtifactStore.getOrElseUpdate(spark, dir, "name-b", -1) == 42)
  }

  test("newSession() builds afresh") {
    val first = ArtifactStore.getOrElseUpdate(spark, dir, "per-session", new Object)
    val fresh = spark.newSession()
    val second = ArtifactStore.getOrElseUpdate(fresh, dir, "per-session", new Object)
    assert(first ne second)
    assert(ArtifactStore.getOrElseUpdate(fresh, dir, "per-session", new Object) eq second)
    assert(ArtifactStore.getOrElseUpdate(spark, dir, "per-session", new Object) eq first)
  }

  test("an at-rest artifact's graft-ann dir is registered for deletion at exit") {
    val p = Shared.atRest(spark, dir, "at-rest", "layout") { p =>
      assert(new File(p).mkdirs())
    }
    val annDir = new File(p).getParentFile
    assert(annDir.getName.matches("graft-ann-\\w+"))
    assert(ShutdownDelete.registered(annDir.getPath))
  }
}
