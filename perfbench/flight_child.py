"""Serving process for serving_mix: a DatasetStreamerServer over one
catalog root with the saved IVF-PQ and HNSW indexes attached. Prints
its port on stdout, then serves until terminated.

    python3 flight_child.py <catalog_root> <ivfpq.npz> <hnsw.npz>
"""

from __future__ import annotations

import signal
import sys


def main() -> None:
    from featureform_spark.serving.ann_index import IvfPqIndex
    from featureform_spark.serving.flight_server import DatasetStreamerServer
    from featureform_spark.serving.hnsw_index import HnswIndex

    root, ivf_path, hnsw_path = sys.argv[1:4]
    server = DatasetStreamerServer({"bench": root})
    server.register_index("vec", IvfPqIndex.load(ivf_path))
    server.register_index("hnsw", HnswIndex.load(hnsw_path))
    signal.signal(signal.SIGTERM, lambda *_: server.shutdown())
    print(server.port, flush=True)
    server.serve()


if __name__ == "__main__":
    main()
