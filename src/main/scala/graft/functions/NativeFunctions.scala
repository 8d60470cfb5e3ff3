package graft.functions

import org.apache.spark.sql.SparkSession

/** One-stop registration for the library's native Catalyst expressions.
  * Query builders (Fts.searchStemmed, Fts.searchCoverDensity) are pure —
  * they reference the functions by name and do NOT mutate session state;
  * hosts call this once at session setup (Verify/Bench mains, SparkSpec),
  * the same place other session configuration lives.
  */
object NativeFunctions {
  def registerAll(spark: SparkSession): Unit = {
    LightStem.register(spark)
    CoverDensityScore.register(spark)
    PqEncode.register(spark)
    VecDot.register(spark)
    IVecDot.register(spark)
    WinnowFps.register(spark)
    BqPack.register(spark)
    BqAsymScore.register(spark)
    QuantizeI8.register(spark)
    KMeansAssign.register(spark)
    RequestParam.register(spark)
  }
}
