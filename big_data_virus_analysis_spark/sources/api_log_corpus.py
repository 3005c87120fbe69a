"""A seeded API-call-log corpus in the reference corpus's shape.

The api-log catalog entries read the reference's own corpus
(``api_logs/``: 720 clean and 884 virus files, readme.md:87) where it
exists, and this generated one where it does not.  The generated corpus
follows the reference grammar (api_logs.py):

* directories ``clean_LOGS_CONVERTED/`` and ``virus_LOGS_CONVERTED/``
  holding ``LOG_API (N)converted.txt``, N = 1 .. 720 / 1 .. 884;
* a bare ``" -"`` (clean) or ``" +"`` (virus) first line, then one
  ``"<Api> -"`` / ``"<Api> +"`` line per call;
* CRLF line endings: exactly one CR before every LF and no lone CR,
  which the DuckDB oracles' one-CR strip relies on.

Like the reference's 124 distinct APIs with 84 in both classes, it
draws from 84 shared APIs plus 20 clean-only and 20 virus-only ones,
with class-skewed popularity so the information gain varies by API.
About one file in a hundred is marker-only, as the reference corpus has
files without a surviving token.  The text is a pure function of
:data:`SEED`; bump :data:`CORPUS_VERSION` whenever it changes, because
:func:`generated_corpus_root` reuses a corpus already on disk by that
version's directory name.
"""

from __future__ import annotations

import os
import random
import shutil
import tempfile

#: bump with any change to the generated text (names the on-disk copy)
CORPUS_VERSION = 1
SEED = 7
N_CLEAN, N_VIRUS = 720, 884
CLASS_DIRS = {"clean": "clean_LOGS_CONVERTED", "virus": "virus_LOGS_CONVERTED"}
#: the reference checkout's own corpus
REFERENCE_ROOT = "/root/reference/api_logs"
_MARKS = {"clean": "-", "virus": "+"}

_SHARED_APIS = """
AdjustTokenPrivileges CloseHandle CopyFile CreateDirectory CreateEvent
CreateFile CreateFileMapping CreateMutex CreateProcess CreateRemoteThread
CreateThread CreateToolhelp32Snapshot DeleteFile DeviceIoControl
EnumProcesses ExitProcess FindClose FindFirstFile FindNextFile FindResource
FindWindow FreeLibrary GetAsyncKeyState GetCommandLine GetComputerName
GetCurrentProcess GetFileAttributes GetFileSize GetForegroundWindow
GetModuleFileName GetModuleHandle GetProcAddress GetProcessDEPPolicy
GetStartupInfo GetSystemDefaultLangID GetSystemDirectory GetSystemInfo
GetTempFileName GetTempPath GetTickCount GetUserName GetVersionEx
GetWindowsDirectory GlobalAlloc HeapAlloc HeapFree IsDebuggerPresent
LoadLibrary LoadResource LockResource LookupPrivilegeValue MapViewOfFile
Module32First Module32Next MoveFile OpenMutex OpenProcess OpenProcessToken
Process32First Process32Next QueryPerformanceCounter ReadFile
ReadProcessMemory RegCloseKey RegCreateKeyEx RegEnumKeyEx RegOpenKeyEx
RegQueryValueEx RegSetValueEx ReleaseMutex ResumeThread SetFilePointer
SetProcessDEPPolicy SetUnhandledExceptionFilter ShellExecute Sleep
SystemParametersInfo TerminateProcess VirtualAlloc VirtualFree
VirtualProtect WaitForSingleObject WriteFile WriteProcessMemory
""".split()
_CLEAN_ONLY_APIS = """
BeginPaint CoCreateInstance CreateFontIndirect CreateWindowEx
DispatchMessage DrawText EndPaint GetClientRect GetDC GetMessage GetSysColor
LoadCursor LoadIcon PostQuitMessage RegisterClassEx ReleaseDC SelectObject
SendMessage SetWindowText TranslateMessage
""".split()
_VIRUS_ONLY_APIS = """
CheckRemoteDebuggerPresent ControlService CreateService CryptAcquireContext
CryptEncrypt GetKeyState HttpSendRequest InternetOpen InternetOpenUrl
InternetReadFile NtQueryInformationProcess NtUnmapViewOfSection
OpenSCManager QueueUserAPC RegDeleteKey SetThreadContext SetWindowsHookEx
StartService URLDownloadToFile VirtualAllocEx
""".split()


def corpus_texts() -> dict[str, list[str]]:
    """Per class, the file texts in order: text ``i`` is the content of
    ``LOG_API (i+1)converted.txt``."""
    rng = random.Random(SEED)
    pools = {"clean": _SHARED_APIS + _CLEAN_ONLY_APIS, "virus": _SHARED_APIS + _VIRUS_ONLY_APIS}
    texts: dict[str, list[str]] = {}
    for cls, n in (("clean", N_CLEAN), ("virus", N_VIRUS)):
        pool, mark = pools[cls], _MARKS[cls]
        weights = [rng.uniform(0.2, 3.0) for _ in pool]
        texts[cls] = []
        for _ in range(n):
            calls: list[str] = []
            if rng.random() >= 0.01:
                apis = rng.choices(pool, weights=weights, k=rng.randint(8, 40))
                calls = rng.choices(apis, k=rng.randint(60, 180))
            texts[cls].append("".join(f"{line} {mark}\r\n" for line in ["", *calls]))
    return texts


def write_corpus(root: str) -> None:
    """Write the corpus's two class directories under ``root``."""
    for cls, files in corpus_texts().items():
        d = os.path.join(root, CLASS_DIRS[cls])
        os.makedirs(d, exist_ok=True)
        for i, text in enumerate(files, start=1):
            with open(os.path.join(d, f"LOG_API ({i})converted.txt"), "w", newline="") as f:
                f.write(text)


def generated_corpus_root(base_dir: str | None = None) -> str:
    """The generated corpus's root under ``base_dir`` (default: the
    system temp dir), written there only if it is missing.

    The corpus is written to a sibling temp directory and renamed into
    place, so a concurrent reader never sees a half-written corpus; a
    writer that loses the rename race discards its copy.
    """
    base_dir = base_dir or tempfile.gettempdir()
    root = os.path.join(base_dir, f"spark_graft_api_logs_v{CORPUS_VERSION}")
    if os.path.isdir(root):
        return root
    tmp = tempfile.mkdtemp(prefix=f".{os.path.basename(root)}.", dir=base_dir)
    try:
        write_corpus(tmp)
        os.chmod(tmp, 0o755)  # mkdtemp's 0700 would hide it from other users
        os.rename(tmp, root)
    except OSError:
        if not os.path.isdir(root):
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return root


def api_log_root() -> str:
    """The corpus root every api-log reader uses: the reference's own
    corpus where both ``*_LOGS_CONVERTED`` directories exist, else the
    generated one (:func:`generated_corpus_root`)."""
    if all(os.path.isdir(os.path.join(REFERENCE_ROOT, d)) for d in CLASS_DIRS.values()):
        return REFERENCE_ROOT
    return generated_corpus_root()
