import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent.parent))  # the engine package
sys.path.insert(0, str(HERE.parent))         # the benchmark modules
