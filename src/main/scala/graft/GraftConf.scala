package graft

import org.apache.spark.sql.SparkSession

/** The engine's session confs: every `spark.graft.*` key, declared once
  * with its default and one typed reader. Set them with
  * `spark.conf.set(key, value)` on the session that runs the operator.
  */
object GraftConf {

  /** A session conf: its name, the value an unset key reads as, and the
    * parse of a set one.
    */
  final case class Key[T](key: String, default: T, parse: String => T) {
    def get(spark: SparkSession): T =
      spark.conf.getOption(key).map(parse).getOrElse(default)
  }

  /** Pair count under which `Dedup.dupClusters` solves the closure with a
    * driver-local union-find instead of distributed sweeps (0 forces the
    * sweeps).
    */
  val LocalSolveMaxPairs: Key[Long] =
    Key("spark.graft.cc.localSolveMaxPairs", 4000000L, _.toLong)

  /** Vocabulary size under which `BpeTrain`'s merge rounds run on the
    * driver (0 forces the distributed rounds).
    */
  val LocalLoopMaxVocab: Key[Long] =
    Key("spark.graft.bpe.localLoopMaxVocab", 2000000L, _.toLong)

  /** `true` makes the closure's barriers reliable `checkpoint()`s (under
    * `sparkContext.setCheckpointDir`) instead of executor-local ones.
    */
  val ReliableCheckpoint: Key[Boolean] =
    Key("spark.graft.cc.reliableCheckpoint", false, _ == "true")
}
