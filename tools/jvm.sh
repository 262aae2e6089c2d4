# JVM launch prelude shared by the tools/ scripts. Source it, then run
#   java $GRAFT_JVM_OPTS -Xmx<heap> -cp "$GRAFT_CP" <main> <args>
# JDK 17 needs the --add-opens flags, or SparkSession creation throws
# IllegalAccessError. The classpath is the compiled classes plus the Spark
# jars: $SPARK_HOME/jars, else the directory build.sbt's unmanagedBase names.
GRAFT_JVM_OPTS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  GRAFT_JVM_OPTS="$GRAFT_JVM_OPTS --add-opens java.base/$p=ALL-UNNAMED"
done
GRAFT_JVM_OPTS="$GRAFT_JVM_OPTS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC"
GRAFT_ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
GRAFT_SPARK_JARS="${SPARK_HOME:+$SPARK_HOME/jars}"
GRAFT_SPARK_JARS="${GRAFT_SPARK_JARS:-$(sed -n 's/^unmanagedBase := file("\(.*\)")/\1/p' "$GRAFT_ROOT/build.sbt")}"
GRAFT_CP="$GRAFT_ROOT/target/scala-2.13/classes:$GRAFT_SPARK_JARS/*"
