"""Run the feature API (``api.http_server.make_server``) over a synced KV
store until standard input closes; prints the bound port first.

Usage: python3 perfbench/serve_child.py <repo root> <kv store dir>
"""

import sys
import threading

sys.path.insert(0, sys.argv[1])

from mini_feature_store_spark.api.http_server import make_server  # noqa: E402
from mini_feature_store_spark.api.service import OnlineFeatureService  # noqa: E402
from mini_feature_store_spark.pipelines.online_sync import FileKVStore  # noqa: E402

server = make_server(online=OnlineFeatureService(FileKVStore(sys.argv[2])))
thread = threading.Thread(target=server.serve_forever)
thread.start()
print(server.server_address[1], flush=True)
sys.stdin.read()
server.shutdown()
thread.join()
server.server_close()
