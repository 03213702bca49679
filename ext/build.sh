#!/usr/bin/env bash
# Rebuild simspark-ext.jar from ext/src using the Scala compiler that
# ships INSIDE the Spark distribution (scala-compiler-*.jar in
# $SPARK_HOME/jars) — no network, no extra installs. Java 17+ required.
# Run it after every edit under ext/src and commit the jar: the library
# only loads the committed jar, and tests/test_source_pins.py fails
# while the jar's recorded source hash (resource simspark/source.sha256)
# differs from the source's.
set -euo pipefail
cd "$(dirname "$0")"

SPARK_JARS="${SPARK_JARS:-/opt/spark/jars}"
JAR_TOOL="${JAVA_HOME:-/usr}/bin/jar"
SRC=src/SimSparkExtensions.scala

rm -rf classes && mkdir -p classes/simspark
java -cp "$SPARK_JARS/*" scala.tools.nsc.Main \
  -classpath "$SPARK_JARS/*" -d classes "$SRC"
sha256sum "$SRC" | cut -d' ' -f1 > classes/simspark/source.sha256
"$JAR_TOOL" cf simspark-ext.jar -C classes .
rm -rf classes
echo "built $(pwd)/simspark-ext.jar"
