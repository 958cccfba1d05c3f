package graft

import org.apache.spark.sql.SparkSession

import graft.tables.{Snapshot, VersionStore}

/** Child main for VersionStoreSpec's two-JVM race arm: a SEPARATE
  * driver process appending `count` versions to a shared chain
  * through the real [[VersionStore.commit]] protocol — no shared JVM
  * state with the test process, so the only coordination is the
  * filesystem's create-if-absent marker. Each commit's record carries
  * the op note `tag-seq`; the parent asserts no commit is lost,
  * duplicated, or torn. */
object VersionRaceChild {

  /** Commit `n` versions tagged `tag`, re-resolving the head after
    * every conflict; returns how many landed (n unless starved). With
    * `parts`, commit `i`'s record also names two parts: `a` holds `i`,
    * `b` holds `tag`. */
  def race(spark: SparkSession, dir: String, tag: String, n: Int,
           parts: Boolean = false): Int = {
    import spark.implicits._
    var i = 0
    var attempts = 0
    while (i < n && attempts < 500) {
      attempts += 1
      val head = VersionStore.latest(spark, dir)
      try {
        VersionStore.commit(spark, dir, head) { stage =>
          if (parts) {
            stage.put(Seq(i).toDF("x").coalesce(1), "a")
            stage.put(Seq(tag).toDF("tag").coalesce(1), "b")
          }
          Snapshot(dir, stage.version, Seq.empty, parts = stage.parts,
            op = "APPEND", detail = s"$tag-$i")
        }
        i += 1
      } catch {
        case _: VersionStore.VersionConflictException => ()
      }
    }
    i
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, tag, countS, parts) = args
    val n = countS.toInt
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val i = race(spark, dir, tag, n, parts.toBoolean)
    spark.stop()
    sys.exit(if (i == n) 0 else 2)
  }
}
