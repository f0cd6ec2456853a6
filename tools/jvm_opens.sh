# Sourced by the tools/*.sh launchers: sets ADD_OPENS to the
# --add-opens flags Spark 4 needs on JDK 17 outside spark-submit (the
# same module list as build.sbt's jdk17AddOpens).
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
