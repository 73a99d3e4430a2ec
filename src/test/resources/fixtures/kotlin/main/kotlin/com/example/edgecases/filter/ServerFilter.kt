package com.example.edgecases.filter

/**
 * Inside ServerFilter the simple name Filter means the nested class, not
 * the interface both of them implement.
 */
class ServerFilter : com.example.edgecases.filter.Filter {
    class Filter : com.example.edgecases.filter.Filter {
        override fun filter(request: String): Boolean {
            return request.startsWith("/internal")
        }
    }

    private val internal = Filter()

    override fun filter(request: String): Boolean {
        return request.isNotEmpty() && !internal.filter(request)
    }
}
