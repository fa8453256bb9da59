package org.apache.spark.executor

import org.apache.spark.util.Utils

/** Points the local executor's default task class loader at the
  * driver's context loader, so a generated class compiled on the driver
  * is a cache hit when a task compiles the same source.
  *
  * `CodeGenerator.compile` keys its cache on (context loader, source).
  * The driver compiles every whole-stage class to check its size under
  * the app loader; tasks then compile it again under the executor's own
  * loader. That executor loader is an empty-URL `MutableURLClassLoader`
  * whose parent is the app loader, so tasks resolving through the app
  * loader directly see the same classes.
  *
  * Local mode only: cluster executors are other JVMs, and nothing
  * changes there. A jar added later with `addJar` would not be visible
  * to tasks; the engine adds none. Lives in `org.apache.spark.executor`
  * because `IsolatedSessionState` is package-private (the
  * `GraftKMeansIO` bridge precedent). */
object GraftTaskLoader {
  def shareDriverLoader(): Unit =
    Option(IsolatedSessionState.sessions.get("default"))
      .foreach(_.replClassLoader = Utils.getContextOrSparkClassLoader)
}
