package graft

/** Settings every session builder in the engine shares. */
object Session {

  /** `spark.sql.codegen.cache.maxEntries`, a static conf (it must be set
    * when the session is built). A cold nightly-refresh pass touches
    * about 450 generated classes, counting the driver's and the
    * executors' class-loader copies, so the 100-entry default evicts and
    * recompiles classes within a single pass. */
  val CodegenCacheMaxEntries = 1000
}
