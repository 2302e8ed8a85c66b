# Sourced by the scripts that run the compiled classes with plain java
# (invariance.sh, probe_audit.sh, scale_sweep.sh) from the repo root:
# sets JO, the JDK 17 --add-opens flags Spark needs outside spark-submit,
# and CP, the classpath: the compiled classes plus the Spark jars, which
# include scala-library.
JO="-XX:+IgnoreUnrecognizedVMOptions"
for m in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         jdk.internal.ref sun.nio.ch sun.nio.cs sun.security.action \
         sun.util.calendar; do
  JO="$JO --add-opens=java.base/$m=ALL-UNNAMED"
done
CP="target/scala-2.13/classes:/opt/spark/jars/*"
