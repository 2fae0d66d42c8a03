#!/bin/sh
# Python interpreter for the engine's Spark workers (see session.py,
# "Worker interpreter"). Spark puts $SPARK_HOME/python/lib/pyspark.zip
# and py4j-*-src.zip first on every worker's PYTHONPATH, and zipimport
# never caches bytecode, so each fresh worker compiles pyspark from
# source. Dropping the two zips lets the interpreter import its own
# installed, compiled copies. Shell builtins only: no subprocess.
if [ -n "${PYTHONPATH-}" ]; then
    rest=$PYTHONPATH:
    kept=
    while [ -n "$rest" ]; do
        entry=${rest%%:*}
        rest=${rest#*:}
        case $entry in
            */python/lib/pyspark.zip | */python/lib/py4j-*-src.zip) ;;
            *) kept=$kept$entry: ;;
        esac
    done
    PYTHONPATH=${kept%:}
    export PYTHONPATH
fi
exec "${PYSPARK_PYTHON:-python3}" "$@"
