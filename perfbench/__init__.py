"""Repository benchmark for beholder_spark.

Drives the engine from outside through its public functions: the
checkpointed pages pipeline and the ``from udp`` daemon.
``python3 perfbench/run.py --help`` lists the arguments;
``perfbench/README.md`` defines every metric.
"""
