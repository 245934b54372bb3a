"""Stack process-listing extension (ext/stackps/*.java): every live
stack in the process is visible by uuid; WSNAME/WSSESSION label the
current stack, WSPS/WSINFO inspect, WSSTOP/WSKILL signal one stack,
WS*SESSION signal every stack sharing a session. Signals surface as an
abort check in the dispatch loop (the reference's Signal.STOP/KILL
through the BlockingSignal mechanism — here one flag, since there is no
bootstrap-vs-user code distinction to preserve).

Registrations live here (imported by stack.py for the registry side
effect is avoided — functions.py imports this via functions_concurrent)."""

from __future__ import annotations

import weakref

_STACKS: "weakref.WeakValueDictionary[str, object]" = weakref.WeakValueDictionary()


def register_stack(st) -> None:
    _STACKS[st.uuid] = st


def _info(st) -> dict:
    return {
        "uuid": st.uuid,
        "name": st.name,
        "session": st.session,
        "ops": st._ops,
        "depth": st.depth(),
        "aborted": st.aborted,
    }


def install(register) -> None:
    @register("WSNAME")
    def _wsname(st):
        """'name'|NULL WSNAME (WSNAME.java): label the current stack."""
        v = st.pop()
        st.name = None if v is None else str(v)

    @register("WSSESSION")
    def _wssession(st):
        """'session'|NULL WSSESSION: attach the stack to a session."""
        v = st.pop()
        st.session = None if v is None else str(v)

    @register("WSPS")
    def _wsps(st):
        """WSPS (WSPS.java): list of info maps for every live stack."""
        st.push([_info(s) for s in _STACKS.values()])

    @register("WSINFO")
    def _wsinfo(st):
        """'uuid' WSINFO: info map for one stack (NULL if unknown)."""
        u = str(st.pop())
        s = _STACKS.get(u)
        st.push(None if s is None else _info(s))

    def _signal_one(signal):
        def run(st):
            u = str(st.pop())
            s = _STACKS.get(u)
            if s is not None:
                s.aborted = signal
            st.push(s is not None)

        return run

    register("WSSTOP")(_signal_one("STOP"))
    register("WSKILL")(_signal_one("KILL"))

    def _signal_session(signal):
        def run(st):
            sess = str(st.pop())
            n = 0
            for s in _STACKS.values():
                if s.session == sess and s is not st:
                    s.aborted = signal
                    n += 1
            st.push(n)

        return run

    register("WSSTOPSESSION")(_signal_session("STOP"))
    register("WSKILLSESSION")(_signal_session("KILL"))
